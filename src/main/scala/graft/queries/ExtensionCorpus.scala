package graft.queries

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity, TemporalJoins}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Corpus.fixture

/** BASELINE-extension corpus: deduplication, similarity search,
  * multimodal plumbing, text analysis, and temporal joins over the
  * `documents` / `embeddings` / `events` fixtures.
  *
  * Every oracle here is GENERATED Scala-side so constants (hash salts,
  * LSH hyperplanes, marker lists) can never drift between the Spark
  * implementation and the DuckDB SQL. Hash primitives are md5-based
  * (see TextFunctions.hash32) precisely so these oracles exist: the
  * whole dedup stack is exact-checkable cross-engine, not rows-only.
  */
object ExtensionCorpus {

  // ---- shared DuckDB SQL fragments (kept in lockstep with TextFunctions) ----

  /** DuckDB rendering of TextFunctions.hash32. */
  private def sqlHash32(e: String): String =
    s"CAST(('0x' || substr(md5($e),1,8)) AS BIGINT)"

  /** DuckDB rendering of word 3-shingles over string_split tokens. */
  private[queries] val sqlShingles =
    "list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))"

  /** Minhash j = min over per-shingle digests of the 8-hex window at
    * offset 3j (mirrors Dedup.minhashSignatures' slice scheme; `hs` is
    * the digest list). */
  private def sqlMinhash(j: Int): String =
    s"list_min(list_transform(hs, h -> substr(h, ${1 + 3 * j}, 8)))"

  /** DuckDB rendering of TextFunctions.occurrences over padded text. */
  private def sqlOcc(padded: String, pat: String): String = {
    val esc = pat.replace("'", "''")
    s"CAST((length($padded) - length(replace($padded, '$esc', ''))) / ${pat.length} AS INTEGER)"
  }

  private def sqlLangScore(lang: String): String =
    langMarkers.collectFirst { case (`lang`, pats) => pats }.get
      .map(p => sqlOcc("pad", p)).mkString("(", " + ", ")")

  // ------------------------------------------------------------------ dedup

  private val q30 = Q(
    "q30_dedup_exact",
    (s, dir) => Dedup.exact(fixture(s, dir, "documents"), "doc_id", "text"),
    Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      FROM documents GROUP BY lower(trim(text)) ORDER BY keeper_id""")
  )

  private val q31 = Q(
    "q31_minhash_signatures",
    (s, dir) =>
      Dedup.minhashSignatures(fixture(s, dir, "documents"), "doc_id", "text", numHashes = 8)
        .orderBy(col("doc_id")),
    Some {
      val mhCols = (0 until 8).map(j => s"${sqlMinhash(j)} AS mh_$j").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          s AS (SELECT doc_id, list_transform($sqlShingles, x -> md5(x)) AS hs
                FROM t WHERE len(toks) >= 3)
          SELECT doc_id, $mhCols FROM s ORDER BY doc_id"""
    },
    // top cold-cost query in BENCH_r03 (7.5 s cold) — warm-tracked so the
    // official record separates JIT warmup from steady-state throughput
    headline = true
  )

  /** The q32 pipeline as a reusable CTE chain ending in `pairs(a, b)` —
    * shared by q32, the near-dup clustering oracle (q71), and (with a
    * hot-bucket cap) q86. `maxBucketSize` mirrors
    * Dedup.lshCandidatePairs: buckets with more than `cap` members are
    * dropped before the self-join. */
  private[queries] def sqlLshCtes(maxBucketSize: Option[Int]): String = {
    val mhCols = (0 until 8).map(j => s"${sqlMinhash(j)} AS mh_$j").mkString(", ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band_idx, md5(mh_${2 * b} || mh_${2 * b + 1}) AS bucket FROM m")
      .mkString(" UNION ALL ")
    val joinSide = maxBucketSize match {
      case Some(cap) =>
        s"""kept AS (SELECT * FROM bands
              QUALIFY count(*) OVER (PARTITION BY band_idx, bucket) <= $cap),
            """
      case None => ""
    }
    val rel = if (maxBucketSize.isDefined) "kept" else "bands"
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        s AS (SELECT doc_id, list_transform($sqlShingles, x -> md5(x)) AS hs
              FROM t WHERE len(toks) >= 3),
        m AS (SELECT doc_id, $mhCols FROM s),
        bands AS ($bandSelects),
        ${joinSide}pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM $rel l JOIN $rel r
            ON l.band_idx = r.band_idx AND l.bucket = r.bucket AND l.doc_id < r.doc_id)"""
  }

  private[queries] val sqlLshPairCtes: String = sqlLshCtes(None)

  private val q32 = Q(
    "q32_lsh_candidate_pairs",
    (s, dir) =>
      Dedup.lshCandidatePairs(fixture(s, dir, "documents"), "doc_id", "text", numHashes = 8, bands = 4),
    Some(s"WITH $sqlLshPairCtes SELECT a, b FROM pairs ORDER BY a, b"),
    headline = true
  )

  /** The hot-bucket cap exercised end-to-end: cap=2 drops real buckets
    * on the documents fixture at every SF (sizes reach 3-4 at sf0.01,
    * 11 at sf0.1), so this green row proves the guard that makes
    * MinHash-LSH safe on boilerplate-heavy corpora — the broadcast
    * anti-join path in Dedup.lshCandidatePairs — not just the uncapped
    * default. */
  private val q86 = Q(
    "q86_lsh_capped_pairs",
    (s, dir) =>
      Dedup.lshCandidatePairs(fixture(s, dir, "documents"), "doc_id", "text", numHashes = 8,
        bands = 4, maxBucketSize = Some(2)),
    Some(s"WITH ${sqlLshCtes(Some(2))} SELECT a, b FROM pairs ORDER BY a, b")
  )

  /** Incremental dedup of a new batch (doc_id >= 250) against the
    * signature index of the existing corpus (doc_id < 250) — the
    * growing-corpus ingestion pattern. The fixture genuinely exercises
    * it: 8 batch signatures are already indexed and several batch docs
    * share signatures (235 of 250 batch docs survive at sf0.01). */
  private val q88 = Q(
    "q88_incremental_dedup",
    (s, dir) => {
      val docs = fixture(s, dir, "documents")
      val index = Dedup.minhashSignatures(docs.filter(col("doc_id") < 250), "doc_id", "text")
        .drop("doc_id")
      Dedup.incrementalBySignature(docs.filter(col("doc_id") >= 250), "doc_id", "text", index)
    },
    Some {
      val mhCols = (0 until 8).map(j => s"${sqlMinhash(j)} AS mh_$j").mkString(", ")
      val grp = (0 until 8).map(j => s"mh_$j").mkString(", ")
      val sigCat = (0 until 8).map(j => s"mh_$j").mkString(" || '|' || ")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          s AS (SELECT doc_id, list_transform($sqlShingles, x -> md5(x)) AS hs
                FROM t WHERE len(toks) >= 3),
          m AS (SELECT doc_id, $mhCols FROM s),
          idx AS (SELECT DISTINCT $grp FROM m WHERE doc_id < 250),
          b AS (SELECT $grp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
                FROM m WHERE doc_id >= 250 GROUP BY $grp)
          SELECT keeper_id, md5($sigCat) AS sig_digest, n_copies
          FROM b ANTI JOIN idx USING ($grp) ORDER BY keeper_id"""
    }
  )

  /** The q33 simhash pipeline as a reusable CTE chain ending in
    * `sim(doc_id, simhash)` — shared by q33 and the sorted-neighborhood
    * oracle (q106) so the bit recomposition can never drift between
    * the two. */
  private[queries] def sqlSimhashCtesFor(rel: String): String = {
    val bitSums = (0 until 16)
      .map(b => s"SUM(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s_$b")
      .mkString(", ")
    val recompose = (0 until 16)
      .map(b => s"(CASE WHEN s_$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""w AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM $rel),
        h AS (SELECT doc_id, ${sqlHash32("w")} AS hv FROM w),
        s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
        sim AS (SELECT doc_id, CAST($recompose AS BIGINT) AS simhash FROM s)"""
  }

  private[queries] val sqlSimhashCtes: String = sqlSimhashCtesFor("documents")

  private val q33 = Q(
    "q33_simhash",
    (s, dir) => Dedup.simhash16(fixture(s, dir, "documents"), "doc_id", "text"),
    Some(s"WITH $sqlSimhashCtes SELECT doc_id, simhash FROM sim ORDER BY doc_id")
  )

  /** Sorted-neighborhood blocking exercised end-to-end: simhash order
    * inside 16 signature-prefix blocks, window-3 successor pairs with
    * Hamming distances — the bounded-candidate-count dedup family
    * (|docs|·window, no hot buckets to cap) next to LSH's q32/q86. The
    * oracle replays the sort, the leads and the bit arithmetic
    * verbatim, so blocking, neighborhood order and distance are all
    * hash-pinned. */
  private val q106 = Q(
    "q106_sorted_neighbor_pairs",
    (s, dir) =>
      Dedup.sortedNeighborPairs(fixture(s, dir, "documents"), "doc_id", "text",
        window = 3, blockBits = 4)
        .orderBy(col("a"), col("b"), col("hamming")),
    Some {
      val lead = (1 to 3).map(i =>
        s"""SELECT doc_id AS l_id, simhash AS l_sig,
            lead(doc_id, $i) OVER (PARTITION BY block ORDER BY simhash, doc_id) AS nb_id,
            lead(simhash, $i) OVER (PARTITION BY block ORDER BY simhash, doc_id) AS nb_sig
            FROM blk""").mkString(" UNION ALL ")
      s"""WITH $sqlSimhashCtes,
          blk AS (SELECT doc_id, simhash, CAST(simhash >> 12 AS INTEGER) AS block FROM sim),
          nb AS ($lead),
          p AS (SELECT LEAST(l_id, nb_id) AS a, GREATEST(l_id, nb_id) AS b,
                  CAST(bit_count(xor(l_sig, nb_sig)) AS INTEGER) AS hamming
                FROM nb WHERE nb_id IS NOT NULL)
          SELECT a, b, hamming FROM p ORDER BY a, b, hamming"""
    }
  )

  private val q34 = Q(
    "q34_ngram_jaccard",
    (s, dir) => {
      val docs = fixture(s, dir, "documents")
      val small = docs.filter(col("doc_id") < 40)
      val pairs = small.select(col("doc_id").as("a"))
        .join(small.select(col("doc_id").as("b")), col("a") < col("b"))
      Dedup.jaccard(docs, "doc_id", "text", pairs)
    },
    Some("""WITH d AS (SELECT doc_id, list_distinct(string_split(text,' ')) AS toks FROM documents),
      p AS (SELECT a.doc_id AS a, b.doc_id AS b FROM documents a JOIN documents b
            ON a.doc_id < b.doc_id AND a.doc_id < 40 AND b.doc_id < 40)
      SELECT p.a, p.b,
        ROUND(CAST(len(list_filter(da.toks, x -> list_contains(db.toks, x))) AS DOUBLE)
          / (len(da.toks) + len(db.toks) - len(list_filter(da.toks, x -> list_contains(db.toks, x)))), 6) AS jaccard
      FROM p JOIN d da ON p.a = da.doc_id JOIN d db ON p.b = db.doc_id
      ORDER BY a, b""")
  )

  private val q35 = Q(
    "q35_fingerprint",
    (s, dir) => Dedup.fingerprint(fixture(s, dir, "documents"), "doc_id", "text"),
    Some(s"""SELECT doc_id, CAST(list_sum(list_transform(string_split(text,' '),
      (x,i) -> i * ${sqlHash32("x")})) % 2147483648 AS BIGINT) AS fp
      FROM documents ORDER BY doc_id""")
  )

  // ------------------------------------------------------------- text analysis

  private val q36 = Q(
    "q36_text_stats",
    (s, dir) =>
      fixture(s, dir, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tok"),
        size(tokensRegex(col("text"))).as("n_tok_re"),
        meanTokenLen(col("text")).as("mean_tok_len"),
        stopwordRatio(col("text")).as("stop_ratio"),
        qualityScore(col("text")).as("quality")
      ).orderBy(col("doc_id")),
    Some {
      val en = sqlLangScore("en")
      s"""WITH t AS (SELECT doc_id, text, ' ' || text || ' ' AS pad,
            len(string_split(text,' ')) AS n_tok FROM documents)
        SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
          CAST(len(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS INTEGER) AS n_tok_re,
          ROUND(CAST(length(replace(text,' ','')) AS DOUBLE) / n_tok, 6) AS mean_tok_len,
          ROUND(CAST($en AS DOUBLE) / n_tok, 6) AS stop_ratio,
          CAST(ROUND((CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 0.4 ELSE 0.0 END)
            + (CASE WHEN $en > 0 THEN 0.3 ELSE 0.0 END)
            + (CASE WHEN CAST(length(replace(text,' ','')) AS DOUBLE) / n_tok BETWEEN 2.0 AND 12.0
               THEN 0.3 ELSE 0.0 END), 1) AS DOUBLE) AS quality
        FROM t ORDER BY doc_id"""
    }
  )

  private val q37 = Q(
    "q37_lang_id",
    (s, dir) =>
      fixture(s, dir, "documents")
        .select(col("doc_id"), col("lang"), langId(col("text")).as("lang_id"))
        .orderBy(col("doc_id")),
    Some {
      val scores = langMarkers.map { case (l, _) => s"${sqlLangScore(l)} AS s_$l" }.mkString(", ")
      val best = langMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = langMarkers.map { case (l, _) => s"WHEN s_$l = best THEN '$l'" }.mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, ' ' || text || ' ' AS pad FROM documents),
          sc AS (SELECT doc_id, lang, $scores FROM t),
          b AS (SELECT *, $best AS best FROM sc)
          SELECT doc_id, lang,
            CASE WHEN best = 0 THEN 'und' $cases ELSE 'und' END AS lang_id
          FROM b ORDER BY doc_id"""
    }
  )

  // ------------------------------------------------------- similarity search

  /** DuckDB cosine with the exact fold shape of VectorFunctions.cosine
    * (left-assoc double adds ⇒ bit-identical IEEE results). */
  private[queries] def sqlCosine(a: String, b: String): String =
    s"""(list_reduce(list_transform(list_zip($a, $b), p -> struct_extract(p,1)*struct_extract(p,2)), (x,y) -> x+y)
        / (sqrt(list_reduce(list_transform($a, x -> x*x), (x,y) -> x+y))
         * sqrt(list_reduce(list_transform($b, x -> x*x), (x,y) -> x+y))))"""

  private[queries] val sqlVecView =
    "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings"

  /** DuckDB replay of [[Similarity.kmeansCentroids]](k=16, iters=2) —
    * the seeded Lloyd refinement is bit-stable by design (decimal sums,
    * round-6 means re-synchronize the doubles cross-engine each step,
    * ties break to the highest cell), so the refined centroids are
    * plain SQL: seed cells are the vectors with id < 16 (c0), each
    * step argmax-assigns every vector by cosine and recomputes rounded
    * element-wise means (q84's proven mean-replay shape), empty cells
    * keep the previous centroid via LEFT JOIN + COALESCE. Yields CTEs
    * `v, n0, c0 … c2` (c0 = seed centroids, c2 = refined) plus `truth`
    * (brute-force cosine top-5 for queries id < 10 — q38's shape). */
  private val sqlKmeans2TruthCte = s"""v AS ($sqlVecView),
    n0 AS (SELECT vec_id, emb, sqrt(list_reduce(list_transform(emb, x -> x*x), (x,y) -> x+y)) AS nrm FROM v),
    c0 AS (SELECT vec_id AS cell_id, emb AS cv FROM v WHERE vec_id < 16),
    c0n AS (SELECT cell_id, cv, sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cnrm FROM c0),
    a1 AS (SELECT vec_id, emb, cell_id FROM (
      SELECT x.vec_id, x.emb, c.cell_id,
        ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
          (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
           / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
      FROM n0 x, c0n c) WHERE rn = 1),
    m1 AS (SELECT cell_id, CAST(i.i AS INTEGER) AS dim,
            ROUND(CAST(SUM(CAST(emb[i.i] AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE), 6) AS c
           FROM a1, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i
           GROUP BY cell_id, i.i),
    m1v AS (SELECT cell_id, list(c ORDER BY dim) AS cv FROM m1 GROUP BY cell_id),
    c1 AS (SELECT s.cell_id, COALESCE(m.cv, s.cv) AS cv FROM c0 s LEFT JOIN m1v m USING (cell_id)),
    c1n AS (SELECT cell_id, cv, sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cnrm FROM c1),
    a2 AS (SELECT vec_id, emb, cell_id FROM (
      SELECT x.vec_id, x.emb, c.cell_id,
        ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
          (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
           / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
      FROM n0 x, c1n c) WHERE rn = 1),
    m2 AS (SELECT cell_id, CAST(i.i AS INTEGER) AS dim,
            ROUND(CAST(SUM(CAST(emb[i.i] AS DECIMAL(28,10))) / COUNT(*) AS DOUBLE), 6) AS c
           FROM a2, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) i
           GROUP BY cell_id, i.i),
    m2v AS (SELECT cell_id, list(c ORDER BY dim) AS cv FROM m2 GROUP BY cell_id),
    c2 AS (SELECT s.cell_id, COALESCE(m.cv, s.cv) AS cv FROM c1 s LEFT JOIN m2v m USING (cell_id)),
    truth AS (SELECT query_id, neighbor_id FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
          (list_reduce(list_transform(list_zip(q.emb, c.emb), p -> struct_extract(p,1)*struct_extract(p,2)), (x,y) -> x+y)
           / (q.nrm * c.nrm)) DESC, c.vec_id) AS rk
      FROM (SELECT * FROM n0 WHERE vec_id < 10) q JOIN n0 c ON q.vec_id <> c.vec_id) WHERE rk <= 5),
    cboth AS (SELECT 'refined' AS variant, cell_id, cv FROM c2
              UNION ALL SELECT 'seed' AS variant, cell_id, cv FROM c0),
    cbn AS (SELECT variant, cell_id, cv,
            sqrt(list_reduce(list_transform(cv, x -> x*x), (x,y) -> x+y)) AS cnrm FROM cboth)"""

  /** DuckDB squared L2 with the exact fold shape of
    * VectorFunctions.euclideanSq (left-assoc double adds ⇒
    * bit-identical IEEE results). */
  private def sqlSqDist(a: String, b: String): String =
    s"""list_reduce(list_transform(list_zip($a, $b), p -> (struct_extract(p,1)-struct_extract(p,2))*(struct_extract(p,1)-struct_extract(p,2))), (x,y) -> x+y)"""

  private val q38 = Q(
    "q38_ann_bruteforce",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
    },
    Some(s"""WITH v AS ($sqlVecView),
      sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ${sqlCosine("q.emb", "c.emb")} AS score
             FROM v q JOIN v c ON q.vec_id < 10 AND q.vec_id <> c.vec_id),
      r AS (SELECT query_id, neighbor_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
            FROM sc)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, ROUND(score, 6) AS score
      FROM r WHERE rk <= 5 ORDER BY query_id, rk"""),
    headline = true
  )

  // ---- adaptive LSH width for the vector SELF-JOIN entries ----
  //
  // Fixed `bits` makes every LSH self-join quietly quadratic (bucket
  // occupancy n/2^bits grows linearly ⇒ candidate pairs n²/2^bits —
  // the round-11 10× smoke measured exactly that on q40/q117/q123),
  // so these entries size the width from the LIVE corpus count with
  // Similarity.bitsFor. The generated DuckDB oracles must interpolate
  // hyperplane literals for a CONCRETE width, and they only ever run
  // at the driver's verify scale (sf0.01, 500 embeddings) — so they
  // are generated for bitsFor(500, 32) = 4 and AdaptiveBitsSpec pins
  // that coupling against the real fixture: if the fixture vintage
  // ever changes size, the spec fails loudly instead of the hashes
  // drifting silently. Serving-path entries (q39/q95/…) keep explicit
  // widths: their cost is per-QUERY bucket occupancy, audited by their
  // own recall/pruning specs.

  /** Bucket-occupancy target for the self-join entries' width rule. */
  private[queries] val VecTargetPerBucket = 32L

  /** Embeddings row count at the driver's verify scale (sf0.01). */
  private[queries] val VecOracleRows = 500L

  /** The width the generated oracles are sized for: bitsFor(500,32)=4. */
  private[queries] val vecOracleBits: Int =
    Similarity.bitsFor(VecOracleRows, VecTargetPerBucket)

  /** Live width: one metadata-cheap count, then the bitsFor rule. */
  private def adaptiveVecBits(e: DataFrame): Int =
    Similarity.bitsFor(e.count(), VecTargetPerBucket)

  /** DuckDB rendering of Similarity's seeded sign-bit bucket at a given
    * width (hyperplanes interpolated as literals, exactly as the Scala
    * side computes them). */
  private def sqlVecBucket(seed: Long, bits: Int): String = {
    val planes = Similarity.hyperplanes(dim = 64, bits, seed)
    (0 until bits).map { b =>
      val proj = (0 until 64).map(i => s"emb[${i + 1}]*(${planes(b)(i)})").mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Shared by q39 (direct lshTopK) and q95 (persisted-index serving):
    * both compute the same bits=4/dim=64/k=5 ANN answer, so one oracle
    * pins both. Same seeded hyperplanes as Similarity.lshTopK. */
  private lazy val lshAnnOracleSql: String = {
    val planes = Similarity.hyperplanes(dim = 64, bits = 4)
    val bucket = (0 until 4).map { b =>
      val proj = (0 until 64).map(i => s"emb[${i + 1}]*(${planes(b)(i)})").mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS ($sqlVecView),
      n AS (SELECT vec_id, emb, $bucket AS bkt FROM v),
      sc AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ${sqlCosine("q.emb", "c.emb")} AS score
             FROM n q JOIN n c ON q.bkt = c.bkt AND q.vec_id < 10 AND q.vec_id <> c.vec_id),
      r AS (SELECT query_id, neighbor_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
            FROM sc)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, ROUND(score, 6) AS score
      FROM r WHERE rk <= 5 ORDER BY query_id, rk"""
  }

  private val q39 = Q(
    "q39_ann_lsh",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, bits = 4, dim = 64)
    },
    Some(lshAnnOracleSql)
  )

  /** The persisted-index serving path end-to-end: build the bucketed
    * index table (Overwrite — idempotent across repeated bench passes),
    * then serve the same query batch through the bucket-pruned scan.
    * Must reproduce q39's direct-path answer bit-for-bit, so it shares
    * q39's oracle — this is the correctness gate on the one path whose
    * 100 TB behavior (SelectedBucketsCount file pruning) was previously
    * spec-only. */
  private val q95 = Q(
    "q95_lsh_index_serving",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.buildLshIndex(e, "vec_id", "embedding", "q95_lsh_index",
        bits = 4, dim = 64, numBuckets = 8)
      Similarity.queryLshIndex(s, "q95_lsh_index", e.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, bits = 4, dim = 64)
    },
    Some(lshAnnOracleSql)
  )

  /** Replays Similarity.nearDupPairsLsh's seeded bucketing in SQL (same
    * pattern as q39): candidates = union of per-table same-bucket pairs,
    * then exact cosine re-score — never the n² cross join. */
  private val q40 = Q(
    "q40_embedding_near_dups",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.nearDupPairsLsh(e, "vec_id", "embedding",
        threshold = 0.4, bits = adaptiveVecBits(e), dim = 64, tables = 2)
    },
    Some {
      val tables = (0 until 2).map { t =>
        s"""SELECT l.vec_id AS a, r.vec_id AS b
            FROM (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) l
            JOIN (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) r
              ON l.bkt = r.bkt AND l.vec_id < r.vec_id"""
      }.mkString("\n UNION \n")
      s"""WITH v AS ($sqlVecView),
        cand AS ($tables)
        SELECT cand.a, cand.b, ROUND(${sqlCosine("va.emb", "vb.emb")}, 6) AS score
        FROM cand JOIN v va ON va.vec_id = cand.a JOIN v vb ON vb.vec_id = cand.b
        WHERE ${sqlCosine("va.emb", "vb.emb")} > 0.4
        ORDER BY a, b"""
    }
  )

  /** Approximate k-NN self-join, hash-exact: q40's seeded sign-bit
    * candidate tables, symmetrized so each undirected pair feeds both
    * endpoints' lists, exact cosine re-score, per-doc top-3 window
    * (raw-score order, id tie-break) — all replayed in SQL with the
    * hyperplane weights interpolated as literals exactly as q40 does. */
  private val q117 = Q(
    "q117_knn_join",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.knnJoinLsh(e, "vec_id", "embedding",
        k = 3, bits = adaptiveVecBits(e), dim = 64, tables = 2)
    },
    Some {
      val tables = (0 until 2).map { t =>
        s"""SELECT l.vec_id AS a, r.vec_id AS b
            FROM (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) l
            JOIN (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) r
              ON l.bkt = r.bkt AND l.vec_id < r.vec_id"""
      }.mkString("\n UNION \n")
      s"""WITH v AS ($sqlVecView),
        cand AS ($tables),
        sym AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
        sc AS (SELECT sym.a, sym.b, ${sqlCosine("va.emb", "vb.emb")} AS raw
               FROM sym JOIN v va ON va.vec_id = sym.a JOIN v vb ON vb.vec_id = sym.b),
        r AS (SELECT a, b, raw,
                ROW_NUMBER() OVER (PARTITION BY a ORDER BY raw DESC, b) AS rk FROM sc)
        SELECT a AS id, CAST(rk AS INTEGER) AS rk, b AS neighbor_id, ROUND(raw, 6) AS score
        FROM r WHERE rk <= 3 ORDER BY id, rk"""
    }
  )

  /** Hard-negative mining, hash-exact: q117's knn CTEs with the
    * presumed-duplicate band (score > 0.3) dropped and the survivors
    * re-ranked per doc — ordering the SECOND rank by the rounded score
    * exactly as the operator does (it consumes knnJoinLsh output,
    * whose score is already rounded to 6 dp). */
  private val q123 = Q(
    "q123_hard_negatives",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.hardNegatives(e, "vec_id", "embedding",
        negativesPerDoc = 3, dupThreshold = 0.3, fetchK = 10,
        bits = adaptiveVecBits(e), dim = 64, tables = 2)
    },
    Some {
      val tables = (0 until 2).map { t =>
        s"""SELECT l.vec_id AS a, r.vec_id AS b
            FROM (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) l
            JOIN (SELECT vec_id, ${sqlVecBucket(42L + t, vecOracleBits)} AS bkt FROM v) r
              ON l.bkt = r.bkt AND l.vec_id < r.vec_id"""
      }.mkString("\n UNION \n")
      s"""WITH v AS ($sqlVecView),
        cand AS ($tables),
        sym AS (SELECT a, b FROM cand UNION ALL SELECT b, a FROM cand),
        sc AS (SELECT sym.a, sym.b, ${sqlCosine("va.emb", "vb.emb")} AS raw
               FROM sym JOIN v va ON va.vec_id = sym.a JOIN v vb ON vb.vec_id = sym.b),
        knn AS (SELECT a, b, ROUND(raw, 6) AS score FROM (
          SELECT a, b, raw, ROW_NUMBER() OVER (PARTITION BY a ORDER BY raw DESC, b) AS rk FROM sc)
          WHERE rk <= 10),
        neg AS (SELECT a, b, score,
                 ROW_NUMBER() OVER (PARTITION BY a ORDER BY score DESC, b) AS rk
               FROM knn WHERE score <= 0.3)
        SELECT a AS id, CAST(rk AS INTEGER) AS rk, b AS neighbor_id, score
        FROM neg WHERE rk <= 3 ORDER BY id, rk"""
    }
  )

  // ----------------------------------------------------------- multimodal

  private val q41 = Q(
    "q41_media_metadata",
    (s, dir) =>
      Multimodal.toMediaTable(fixture(s, dir, "documents"), "doc_id", "text")
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.byte_len").as("byte_len"), col("meta.content_hash").as("content_hash"))
        .orderBy(col("media_id")),
    Some("""SELECT doc_id AS media_id, 'utf8-stub' AS format,
      CAST(strlen(text) AS INTEGER) AS byte_len, md5(text) AS content_hash
      FROM documents ORDER BY media_id""")
  )

  /** Feature extraction through the stubbed per-partition decode. The
    * stub accumulates INTEGER byte-sums (Multimodal.fakeDecode) exactly
    * so this oracle exists: bigint sums are fold-order-independent, so
    * DuckDB reproduces the JVM arithmetic bit-for-bit (documents text is
    * verified ASCII ⇒ ord(char) == unsigned byte) and the whole
    * mapPartitions codec boundary is hash-verified, not rows-only. The
    * array column is projected to scalars (digest + sum) because the
    * gate's sorted-column hasher can't hash arrays. */
  private val q42 = Q(
    "q42_media_features",
    (s, dir) => {
      val media = Multimodal.toMediaTable(fixture(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media, featDim = 8).toDF()
        .select(
          col("media_id"),
          col("n_frames"),
          md5(concat_ws(",", transform(col("feature"), _.cast("string")))).as("feature_md5"),
          aggregate(col("feature"), lit(0L), (a, x) => a + x).as("feature_sum")
        )
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (SELECT doc_id AS media_id, text FROM documents),
      f AS (SELECT media_id,
        list_transform(range(0,8), j -> coalesce(list_sum(list_transform(
          range(CAST(j AS INT), strlen(text), 8), i -> ord(substr(text, CAST(i AS INT)+1, 1)))), 0)) AS feature,
        CAST(ceil(strlen(text)/64.0) AS INTEGER) AS n_frames
        FROM d)
      SELECT media_id, n_frames,
        md5(array_to_string(feature, ',')) AS feature_md5,
        CAST(list_sum(feature) AS BIGINT) AS feature_sum
      FROM f ORDER BY media_id""")
  )

  private val q43 = Q(
    "q43_frame_sample",
    (s, dir) => {
      val media = Multimodal.toMediaTable(fixture(s, dir, "documents"), "doc_id", "text")
      Multimodal.sampleFrames(media, stride = 2)
        .select(col("media_id"), col("frame_idx"),
          octet_length(col("frame_bytes")).as("frame_len"), md5(col("frame_bytes")).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))
    },
    // documents text is ASCII (verified), so DuckDB char-substr ==
    // JVM byte-slice.
    Some("""WITH d AS (SELECT doc_id AS media_id, text,
        CAST(ceil(strlen(text)/64.0) AS INTEGER) AS nf FROM documents),
      e AS (SELECT media_id, unnest(range(0, nf, 2)) AS frame_idx, text FROM d)
      SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        CAST(strlen(substr(text, frame_idx*64+1, 64)) AS INTEGER) AS frame_len,
        md5(substr(text, frame_idx*64+1, 64)) AS frame_md5
      FROM e ORDER BY media_id, frame_idx""")
  )

  /** REAL image codec end-to-end, hash-exact: deterministic grayscale
    * PNGs are encoded from each document's md5 digest and decoded back
    * through JDK `javax.imageio` — BOTH steps distributed inside
    * executor tasks over a real binary payload column. PNG is
    * lossless, so the decoded dimensions + channel sums equal the
    * pixel formula's, which the DuckDB oracle replays from the same
    * digests — a genuine binary codec round-trip verified cross-engine
    * without the oracle ever touching PNG bytes. */
  private val q143 = Q(
    "q143_media_decode",
    (s, dir) => {
      val docs = fixture(s, dir, "documents").select(col("doc_id"), md5(col("text")).as("h"))
      Multimodal.decodeImageFeatures(Multimodal.encodeGrayPng(docs, "doc_id", "h", side = 8))
        .orderBy(col("media_id"))
    },
    Some("""WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
      px AS (SELECT doc_id,
               (strpos('0123456789abcdef', substr(h, (p.p % 32) + 1, 1)) - 1) * 16 AS v
             FROM d, (SELECT unnest(range(64)) AS p) p)
      SELECT doc_id AS media_id, 8 AS width, 8 AS height,
        CAST(SUM(v) AS BIGINT) AS sum_r, CAST(SUM(v) AS BIGINT) AS sum_g,
        CAST(SUM(v) AS BIGINT) AS sum_b
      FROM px GROUP BY doc_id ORDER BY doc_id""")
  )

  /** The Iceberg interop bridge under the correctness gate: commit
    * lineitem into a snapshot table (two segments), export the Iceberg
    * v2 metadata (X118), read it back through the jar-free reader's
    * SQL face (X119), and aggregate — the DuckDB oracle computes the
    * same aggregate over the RAW parquet, so a hash match pins that
    * export∘import is the identity on content (metadata JSON, Avro
    * manifest lists/manifests, file addressing and entry statuses all
    * round-trip). The layout halves (partition specs, column stats,
    * time travel, refusals) live in the spec twins. */
  private val q144 = Q(
    "q144_iceberg_roundtrip",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q144-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      t.overwriteTable(li.filter(col("l_orderkey") <= 10000), "li")
      t.append(li.filter(col("l_orderkey") > 10000), "li")
      val dest = java.nio.file.Files.createTempDirectory("q144-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** X121 gate — MERGE-ON-READ chains through the Iceberg bridge: a
    * table mutated with upsertMor + deleteKeysMor exports as v2
    * equality deletes (zero data rewrite) and reads back through
    * `graft_iceberg_scan` with the deletes APPLIED. The oracle replays
    * the MOR resolution in plain SQL: doubled price for the upserted
    * keys, the deleted keys filtered out. */
  private val q145 = Q(
    "q145_iceberg_mor_roundtrip",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q145-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
      t.overwriteTable(ord, "ord")                                     // v1
      t.upsertMor("ord",                                               // v2: reprice %97 keys
        ord.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"))
      t.deleteKeysMor("ord",                                           // v3: purge %89 keys
        ord.filter(col("o_orderkey") % 89 === 0).select("o_orderkey"))
      val dest = java.nio.file.Files.createTempDirectory("q145-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey % 89 <> 0
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** X122 gate — murmur3 BUCKET layouts cross the Iceberg bridge as
    * REAL `bucket[N]` spec fields: graft's bucketMurmur3 transform
    * computes Iceberg's exact bucket function (murmur3_x86_32 over the
    * spec's value serialization, known-answer-tested against the
    * spec's Appendix B vectors in IcebergBucketSpec), so the export no
    * longer omits bucket fields and external readers can prune by
    * them. Two segments (overwrite + append — the append RE-DERIVES
    * the persisted hidden layout) export and read back through
    * `graft_iceberg_scan`; the oracle aggregates the raw parquet. */
  private val q146 = Q(
    "q146_iceberg_bucket_roundtrip",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q146-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      t.overwriteTableTransformed(ord.filter(col("o_orderkey") % 2 === 0), "ord",
        Seq(graft.io.SnapshotTables.PartitionTransform.bucketMurmur3(16, "o_custkey")))
      t.append(ord.filter(col("o_orderkey") % 2 =!= 0), "ord")
      val dest = java.nio.file.Files.createTempDirectory("q146-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      s.sql(s"""SELECT o_custkey % 100 AS k, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_custkey % 100 ORDER BY k""")
    },
    Some("""SELECT o_custkey % 100 AS k, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_custkey % 100 ORDER BY k""")
  )

  /** First ORACLE-GATED streaming row (the 12 streaming ops were
    * MemoryStream-spec'd only until now): a real file-source stream
    * (4 staged parquet files, maxFilesPerTrigger=1 → 4 scripted
    * micro-batches) filtered and routed through
    * [[graft.streaming.Streams.snapshotAppendSink]] under
    * Trigger.AvailableNow into a versioned snapshot table — exactly
    * the reference's incremental re-land pattern (S9+S3) the sinks
    * subsume. The gate aggregates the FINAL table content; DuckDB
    * replays the whole scripted stream as one batch query (append of
    * every filtered row, txn-id replay safety keeping it exactly-once
    * across the 4 commits). */
  private val q147 = Q(
    "q147_streaming_append_sink",
    (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("q147-src").toString
      fixture(s, dir, "events").repartition(4).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
      val root = java.nio.file.Files.createTempDirectory("q147-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ck = java.nio.file.Files.createTempDirectory("q147-ck").toString
      val q = graft.streaming.Streams.snapshotAppendSink(stream, t, "ev", ck,
        availableNow = true)
      q.awaitTermination()
      t.read("ev")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id ORDER BY user_id""")
  )

  /** Keyed streaming MERGE under the gate: events hash-partitioned by
    * user into 4 source files (each key lives in exactly ONE
    * micro-batch, so the final table is deterministic), streamed
    * through [[graft.streaming.Streams.snapshotMergeSink]] with
    * per-batch conflict resolution on the unique event_id — the final
    * table is each user's max-event_id row, which DuckDB replays with
    * one window. Gates the COW MERGE path + per-batch max_by conflict
    * resolution + AvailableNow. */
  private val q148 = Q(
    "q148_streaming_merge_sink",
    (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("q148-src").toString
      fixture(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value").cast("double").as("value"))
        .repartition(4, col("user_id"))
        .write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
      val root = java.nio.file.Files.createTempDirectory("q148-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ck = java.nio.file.Files.createTempDirectory("q148-ck").toString
      val q = graft.streaming.Streams.snapshotMergeSink(stream, t, "u", Seq("user_id"), ck,
        orderCol = Some("event_id"), availableNow = true)
      q.awaitTermination()
      t.read("u").select(col("user_id"), col("event_id"), col("event_type"), col("value"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, event_id, event_type, CAST(value AS DOUBLE) AS value FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events) WHERE rn = 1 ORDER BY user_id""")
  )

  /** Stream-static broadcast enrichment under the gate: the purchase
    * stream joins a slow-changing dimension (built batch-side) without
    * ever shuffling the stream, lands via the AvailableNow parquet
    * sink, and the landed output aggregates hash-exact vs DuckDB's
    * plain join replay. */
  private val q149 = Q(
    "q149_streaming_enrich",
    (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("q149-src").toString
      fixture(s, dir, "events").repartition(3).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value").cast("double").as("value"))
      val dim = fixture(s, dir, "events").select(col("user_id")).distinct()
        .withColumn("cohort", (col("user_id") % 7).cast("int"))
      val enriched = graft.streaming.Streams.enrich(stream, dim, Seq("user_id"))
      val outP = java.nio.file.Files.createTempDirectory("q149-out").toString + "/landed"
      val ck = java.nio.file.Files.createTempDirectory("q149-ck").toString
      graft.streaming.Streams.availableNowTo(enriched, outP, ck).awaitTermination()
      s.read.parquet(outP)
        .groupBy(col("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("cohort"))
    },
    Some("""SELECT CAST(user_id % 7 AS INTEGER) AS cohort, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY cohort""")
  )

  /** Metadata-table audit of a foreign Iceberg layout under the gate:
    * `graft_iceberg_files` sums the MANIFESTS' record counts per
    * content kind (0 = data, 2 = equality deletes) — the driver never
    * opens a data file — and DuckDB recomputes the same totals from
    * the raw source rows (the upsert delta enters its snapshot twice,
    * as data and as an equality delete, per the X121 design). */
  private val q150 = Q(
    "q150_iceberg_files_audit",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q150-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") <= 10000), "li")
      t.append(li.filter(col("l_orderkey") > 10000), "li")
      t.upsertMor("li",
        li.filter(col("l_orderkey") % 97 === 0)
          .withColumn("l_quantity", col("l_quantity") + 1),
        Seq("l_orderkey", "l_linenumber"))
      val dest = java.nio.file.Files.createTempDirectory("q150-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      s.sql(s"""SELECT content, CAST(SUM(record_count) AS BIGINT) AS rows
        FROM graft_iceberg_files('$dest') GROUP BY content ORDER BY content""")
    },
    Some("""SELECT 0 AS content,
        (SELECT COUNT(*) FROM lineitem) +
        (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 97 = 0) AS rows
      UNION ALL SELECT 2,
        (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % 97 = 0)
      ORDER BY content""")
  )

  /** REAL audio codec end-to-end (X14c, the WAV twin of q143's PNG):
    * deterministic 16-bit PCM synthesized per doc, encoded into a
    * genuine RIFF/WAVE container and decoded back through the JDK's
    * javax.sound.sampled — both inside executor tasks over a real
    * binary column. WAV losslessness makes the decoded quarter-block
    * sample sums SQL-replayable from the synthesis formula. */
  private val q151 = Q(
    "q151_audio_decode",
    (s, dir) => {
      val media = Multimodal.encodePcmWav(
        fixture(s, dir, "documents").select(col("doc_id")), "doc_id", "doc_id")
      Multimodal.decodeAudioFeatures(media).orderBy(col("media_id"))
    },
    Some("""WITH s AS (
        SELECT d.doc_id, CAST(i.i AS BIGINT) AS i,
          ((d.doc_id * 31 + i.i * 2654435761) % 65536) - 32768 AS v
        FROM documents d, (SELECT unnest(range(256)) AS i) i)
      SELECT doc_id AS media_id, CAST(8000 AS INTEGER) AS sample_rate,
        CAST(256 AS INTEGER) AS n_samples,
        CAST(SUM(CASE WHEN i < 64 THEN v END) AS BIGINT) AS b0,
        CAST(SUM(CASE WHEN i >= 64 AND i < 128 THEN v END) AS BIGINT) AS b1,
        CAST(SUM(CASE WHEN i >= 128 AND i < 192 THEN v END) AS BIGINT) AS b2,
        CAST(SUM(CASE WHEN i >= 192 THEN v END) AS BIGINT) AS b3
      FROM s GROUP BY doc_id ORDER BY media_id""")
  )

  // -------------------------------------------------------- temporal joins

  private val q44 = Q(
    "q44_asof_join",
    (s, dir) => {
      val ev = fixture(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val signups = ev.filter(col("event_type") === "signup")
      TemporalJoins.asOfJoin(purchases, signups, "user_id", "ts", "ts", "event_id", "value", "signup_value")
        .select(col("event_id"), col("user_id"), col("signup_value"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id, p.user_id, s.value AS signup_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
      ORDER BY p.event_id""")
  )

  /** Forward as-of: earliest signup AT or AFTER each purchase — the
    * same one-shuffle union+window shape as q44 run under the mirrored
    * sort. DuckDB's native ASOF JOIN replays it with the inequality
    * flipped. (The fixture has no duplicate (user_id, ts) right rows
    * at any SF, so engine tie-break conventions never engage.) */
  private val q107 = Q(
    "q107_asof_forward",
    (s, dir) => {
      val ev = fixture(s, dir, "events")
      TemporalJoins.asOfJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "signup"),
        "user_id", "ts", "ts", "event_id", "value", "next_signup_value",
        direction = "forward")
        .select(col("event_id"), col("user_id"), col("next_signup_value"))
        .orderBy(col("event_id"))
    },
    Some("""SELECT p.event_id, p.user_id, s.value AS next_signup_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP)
      ORDER BY p.event_id""")
  )

  /** Nearest as-of (pandas merge_asof direction='nearest'): closer of
    * the backward/forward matches, exact ties backward. The oracle
    * composes DuckDB's two native ASOF directions and decides with
    * integer-microsecond distances — exactly the arithmetic the Spark
    * side uses (microsecond-valued doubles are exact), so the
    * hash match pins the decision rule, not just the candidates. */
  private val q108 = Q(
    "q108_asof_nearest",
    (s, dir) => {
      val ev = fixture(s, dir, "events")
      TemporalJoins.asOfJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "signup"),
        "user_id", "ts", "ts", "event_id", "value", "nearest_signup_value",
        direction = "nearest")
        .select(col("event_id"), col("user_id"), col("nearest_signup_value"))
        .orderBy(col("event_id"))
    },
    Some("""WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
      s AS (SELECT * FROM events WHERE event_type = 'signup'),
      b AS (SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS pt,
              CAST(s.ts AS TIMESTAMP) AS bt, s.value AS bv
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)),
      f AS (SELECT p.event_id, CAST(s.ts AS TIMESTAMP) AS ft, s.value AS fv
            FROM p ASOF LEFT JOIN s
              ON p.user_id = s.user_id AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP))
      SELECT b.event_id, b.user_id,
        CASE WHEN bt IS NULL THEN fv
             WHEN ft IS NULL THEN bv
             WHEN epoch_us(pt) - epoch_us(bt) <= epoch_us(ft) - epoch_us(pt) THEN bv
             ELSE fv END AS nearest_signup_value
      FROM b JOIN f USING (event_id)
      ORDER BY b.event_id""")
  )

  private val q45 = Q(
    "q45_range_join",
    (s, dir) => {
      val ev = fixture(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val windows = ev.filter(col("event_type") === "signup").select(
        col("user_id"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"),
        col("event_id").as("signup_id")
      )
      TemporalJoins.rangeJoin(purchases, "ts", windows, "w_start", "w_end", keys = Seq("user_id"))
        .select(col("event_id"), col("signup_id"))
        .orderBy(col("event_id"), col("signup_id"))
    },
    Some("""SELECT p.event_id, s.event_id AS signup_id
      FROM events p JOIN events s ON p.user_id = s.user_id
        AND p.event_type = 'purchase' AND s.event_type = 'signup'
        AND CAST(p.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
        AND CAST(p.ts AS TIMESTAMP) <= CAST(s.ts AS TIMESTAMP) + INTERVAL 2 HOUR
      ORDER BY 1, 2""")
  )

  /** Batch twin of graft.streaming.Streams.sessionize (30-min gap
    * sessionization as lag + running-sum session ids) — SQL-expressible,
    * so unlike the streaming path it gets an exact oracle. */
  private val q46 = Q(
    "q46_sessionization",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fixture(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn(
          "new_sess",
          when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") > 1800L * 1000000L, 1)
            .otherwise(0)
        )
        .withColumn("sess_id", sum(col("new_sess")).over(cum).cast("int"))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total")
        )
        .orderBy(col("user_id"), col("sess_id"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      g AS (SELECT *, CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                      THEN 1 ELSE 0 END AS new_sess
            FROM (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e)),
      s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id FROM g)
      SELECT user_id, CAST(sess_id AS INTEGER) AS sess_id,
        MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_id""")
  )

  private val q47 = Q(
    "q47_ann_ivf",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, numCells = 16, nprobe = 2)
    },
    Some(s"""WITH v AS ($sqlVecView),
      n AS (SELECT vec_id, emb,
              sqrt(list_reduce(list_transform(emb, x -> x*x), (x,y) -> x+y)) AS nrm FROM v),
      cent AS (SELECT vec_id AS cell_id, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
      asg AS (SELECT vec_id, emb, nrm, cell_id FROM (
        SELECT x.vec_id, x.emb, x.nrm, cent.cell_id,
          ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, cent.cemb), p -> struct_extract(p,1)*struct_extract(p,2)), (a,b) -> a+b)
             / (x.nrm * cent.cnrm)) DESC, cell_id DESC) AS rn
        FROM n x, cent) WHERE rn = 1),
      probes AS (SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, cell_id FROM (
        SELECT x.vec_id, x.emb, x.nrm, cent.cell_id,
          ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, cent.cemb), p -> struct_extract(p,1)*struct_extract(p,2)), (a,b) -> a+b)
             / (x.nrm * cent.cnrm)) DESC, cell_id DESC) AS rn
        FROM n x, cent WHERE x.vec_id < 10) WHERE rn <= 2),
      sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
               (list_reduce(list_transform(list_zip(p.qemb, a.emb), pp -> struct_extract(pp,1)*struct_extract(pp,2)), (x,y) -> x+y)
                / (p.qnrm * a.nrm)) AS score
             FROM probes p JOIN asg a ON p.cell_id = a.cell_id AND p.query_id <> a.vec_id),
      r AS (SELECT query_id, neighbor_id, score,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk
            FROM sc)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, ROUND(score, 6) AS score
      FROM r WHERE rk <= 5 ORDER BY query_id, rk""")
  )

  /** Recall@k audit of the refined IVF index: k-means centroids
    * (kmeansCentroids, 2 Lloyd steps) feed ivfTopKWithCentroids, and
    * both the refined and the seed-centroid IVF are scored against the
    * brute-force truth in one plan (semi-join hit counts — the recall
    * computation itself is distributed, no collect). Hash-exact
    * oracle: kmeansCentroids is seeded and bit-stable (decimal sums,
    * round-6 means), so the DuckDB oracle replays the 2 Lloyd steps in
    * SQL and re-derives the whole audit. On the synthetic fixture
    * (near-uniform
    * random embeddings, mean pairwise cosine ≈ 0) refinement holds
    * recall roughly level rather than raising it — there is no cluster
    * structure to find; the refinement guarantee that IS asserted
    * (SimilaritySpec) is monotone non-increasing inertia plus exact
    * equivalence of the supplied-centroids path to ivfTopK on seed
    * centroids. */
  private val q87 = Q(
    "q87_ivf_refined_recall",
    (s, dir) => {
      import graft.functions.VectorFunctions.{dot, norm}
      import org.apache.spark.sql.expressions.Window
      // one materialization feeds all passes (truth, k-means, IVF)
      // instead of repeated parquet scans; truth is semi-joined against
      // and counted, so it is materialized too. The audit deliberately
      // KEEPS the session's shuffle width: narrowing the whole audit to
      // the frame's byte-sized width (tried; reverted) measured 2-3x
      // slower at sf0.1 — the byte heuristic underestimates the audit's
      // row-amplified shuffles (scored query-corpus pairs, per-variant
      // assignment rows). kmeansCentroids runs its Lloyd steps at the
      // same width; AQE coalesces their small shuffles.
      val e = fixture(s, dir, "embeddings").localCheckpoint(true)
      val qs = e.filter(col("vec_id") < 10)
      // truth and k-means are INDEPENDENT eager chains (each ends in a
      // materialization) — overlap them on driver threads. Profiling
      // shows the audit's cold cost is dominated by sequential
      // plan-compile/JIT/scheduling of its many small jobs, not by the
      // data plane, and Spark schedules concurrent jobs from one
      // session safely; results are materialized frames, so downstream
      // determinism is untouched.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val truthF = Future(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true))
      // the audit runs only 2 Lloyd steps, so fold both into one job
      // (checkpointInterval = iters) — at scale the default per-step
      // cut is the right call, this is the short-audit special case
      val centF = Future(
        Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 16, iters = 2,
          checkpointInterval = 2))
      val truth = Await.result(truthF, Duration.Inf)
      val cent = Await.result(centF, Duration.Inf)
      // both IVF variants (refined k-means centroids vs raw seed
      // centroids) scored in ONE plan: centroid tables union with a
      // variant tag and assignment/probing/top-k group by it — half
      // the jobs of running ivfTopK twice, identical semantics per
      // variant (the argmax, probe window and re-rank window all key
      // on variant)
      val centBoth = cent
        .select(lit("refined").as("variant"), col("cell_id"), col("cent_vec"))
        .unionByName(e.filter(col("vec_id") < 16)
          .select(lit("seed").as("variant"), col("vec_id").cast("long").as("cell_id"),
            transform(col("embedding"), x => x.cast("double")).as("cent_vec")))
        .withColumn("cent_nrm", norm(col("cent_vec")))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"),
        norm(col("embedding")).as("c_nrm"))
      // argmax cell per (variant, corpus vector): the partial agg
      // carries the vector via first() so the shuffle is exactly one
      // vector row per (variant, corpus vector) — one corpus pass. A
      // leaner group-then-rejoin variant (agg without the vector, then
      // re-attach) was tried and measured ~40% slower warm at sf0.1:
      // the extra join stage costs more than the carried vectors save
      // at the session's 32-way width.
      val assigned = c.join(broadcast(centBoth))
        .withColumn("cscore", dot(col("c_vec"), col("cent_vec")) / (col("c_nrm") * col("cent_nrm")))
        .groupBy(col("variant"), col("neighbor_id"))
        .agg(max(struct(col("cscore"), col("cell_id"))).as("m"),
          first(col("c_vec")).as("c_vec"), first(col("c_nrm")).as("c_nrm"))
        .select(col("variant"), col("neighbor_id"), col("c_vec"), col("c_nrm"),
          col("m.cell_id").as("cell_id"))
      val qv = qs.select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        norm(col("embedding")).as("q_nrm"))
      val wp = Window.partitionBy(col("variant"), col("query_id"))
        .orderBy(col("pscore").desc, col("cell_id").desc)
      val probes = qv.join(broadcast(centBoth))
        .withColumn("pscore", dot(col("q_vec"), col("cent_vec")) / (col("q_nrm") * col("cent_nrm")))
        .withColumn("pr", row_number().over(wp)).filter(col("pr") <= 2)
        .select(col("variant"), col("query_id"), col("q_vec"), col("q_nrm"), col("cell_id"))
      val wk = Window.partitionBy(col("variant"), col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      val ann = assigned.join(probes, Seq("variant", "cell_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
        .withColumn("rk", row_number().over(wk)).filter(col("rk") <= 5)
        .select(col("variant"), col("query_id"), col("neighbor_id"))
      val hits = ann.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(
          sum(when(col("variant") === "refined", 1L).otherwise(0L)).as("hits_refined"),
          sum(when(col("variant") === "seed", 1L).otherwise(0L)).as("hits_unrefined"))
      val nT = truth.agg(count(lit(1)).as("n_truth"))
      nT.crossJoin(hits).select(
        col("n_truth"), col("hits_refined"), col("hits_unrefined"),
        round(col("hits_refined").cast("double") / col("n_truth"), 4).as("recall_refined"),
        round(col("hits_unrefined").cast("double") / col("n_truth"), 4).as("recall_unrefined")
      )
    },
    // hash-exact: the seeded 2-step Lloyd refinement is replayed in
    // pure SQL (sqlKmeans2TruthCte) and both IVF variants + the
    // brute-force truth + the recall arithmetic are re-derived from
    // the data — nothing pinned, nothing rows-only
    Some(s"""WITH $sqlKmeans2TruthCte,
      asg AS (SELECT variant, neighbor_id, emb, nrm, cell_id FROM (
        SELECT c.variant, x.vec_id AS neighbor_id, x.emb, x.nrm, c.cell_id,
          ROW_NUMBER() OVER (PARTITION BY c.variant, x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
             / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
        FROM n0 x, cbn c) WHERE rn = 1),
      prb AS (SELECT variant, query_id, emb, nrm, cell_id FROM (
        SELECT c.variant, x.vec_id AS query_id, x.emb, x.nrm, c.cell_id,
          ROW_NUMBER() OVER (PARTITION BY c.variant, x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
             / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
        FROM (SELECT * FROM n0 WHERE vec_id < 10) x, cbn c) WHERE rn <= 2),
      ann AS (SELECT variant, query_id, neighbor_id FROM (
        SELECT a.variant, p.query_id, a.neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY a.variant, p.query_id ORDER BY
            (list_reduce(list_transform(list_zip(p.emb, a.emb), pp -> struct_extract(pp,1)*struct_extract(pp,2)), (x,y) -> x+y)
             / (p.nrm * a.nrm)) DESC, a.neighbor_id) AS rk
        FROM prb p JOIN asg a ON a.variant = p.variant AND a.cell_id = p.cell_id
          AND p.query_id <> a.neighbor_id) WHERE rk <= 5),
      hits AS (SELECT
          SUM(CASE WHEN variant = 'refined' THEN 1 ELSE 0 END) AS hr,
          SUM(CASE WHEN variant = 'seed' THEN 1 ELSE 0 END) AS hs
        FROM ann a WHERE EXISTS (SELECT 1 FROM truth t
          WHERE t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)),
      nt AS (SELECT COUNT(*) AS n_truth FROM truth)
      SELECT n_truth, CAST(hr AS BIGINT) AS hits_refined, CAST(hs AS BIGINT) AS hits_unrefined,
        ROUND(CAST(hr AS DOUBLE) / n_truth, 4) AS recall_refined,
        ROUND(CAST(hs AS DOUBLE) / n_truth, 4) AS recall_unrefined
      FROM nt, hits""")
  )

  /** Salted two-stage aggregation — must be value-identical to the
    * plain GROUP BY (which is exactly what the oracle runs). */
  private val q48 = Q(
    "q48_salted_agg",
    (s, dir) =>
      graft.operators.Skew
        .saltedCountSum(fixture(s, dir, "events"), Seq("event_type"), "value", col("event_id"), 16)
        .select(col("event_type"), col("n"), col("sum_val").cast("double").as("total"))
        .orderBy(col("event_type")),
    Some("""SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Grouped top-k via the custom TopKAggregator — same semantics as
    * q16's window form (and the same oracle SQL), but with O(k) state
    * per key and partial aggregation instead of a full window sort. */
  private val q49 = Q(
    "q49_grouped_topk_agg",
    (s, dir) => {
      val topn = udaf(new graft.functions.TopKAggregator(3))
      fixture(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(topn(col("o_totalprice"), col("o_orderkey")).as("top"))
        .select(col("o_custkey"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(
          col("o_custkey"),
          (col("pos") + 1).cast("int").as("rn"),
          col("t.id").as("o_orderkey"),
          col("t.ord").as("o_totalprice")
        )
        .orderBy(col("o_custkey"), col("rn"))
    },
    Some("""SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""")
  )

  /** Text normalization (the pre-dedup canonicalization step) — md5 of
    * the normalized form so the oracle pins the exact output string. */
  private val q55 = Q(
    "q55_normalize_text",
    (s, dir) =>
      fixture(s, dir, "documents")
        .select(
          col("doc_id"),
          md5(normalizeText(col("text"))).as("norm_md5"),
          length(normalizeText(col("text"))).as("norm_len")
        )
        .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
      FROM documents)
      SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS INTEGER) AS norm_len
      FROM t ORDER BY doc_id""")
  )

  /** Product-quantization ADC ANN, hash-exact against the oracle: at
    * iters=0 the codebooks are the seed subvectors of ids < 16, which
    * DuckDB re-derives from the data itself (same trick as
    * [[lshAnnOracleSql]]'s seeded planes) — so subspace split, code
    * assignment, the per-query distance table, and decimal ADC
    * summation are ALL pinned cross-engine. Lloyd-refined codebooks
    * are covered by the pq specs (quantization-error monotone,
    * bit-stable training). */
  private val q96 = Q(
    "q96_pq_adc",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      val cb = Similarity.pqTrain(e, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb, dim = 64, m = 8)
      Similarity.pqTopK(codes, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, topK = 5)
    },
    Some(s"""WITH v AS ($sqlVecView),
      sub AS (SELECT vec_id, s.s AS subspace, list_slice(emb, s.s*8+1, s.s*8+8) AS sv
              FROM v, (SELECT unnest(range(8)) AS s) s),
      cb AS (SELECT subspace, CAST(vec_id AS INTEGER) AS code, sv AS cw FROM sub WHERE vec_id < 16),
      asn AS (SELECT d.vec_id, d.subspace, c.code, ${sqlSqDist("d.sv", "c.cw")} AS dist
              FROM sub d JOIN cb c USING (subspace)),
      enc AS (SELECT vec_id, subspace, code FROM asn
              QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code) = 1),
      qd AS (SELECT vec_id AS query_id, subspace, code, CAST(ROUND(dist, 8) AS DECIMAL(28,10)) AS pd
             FROM asn WHERE vec_id < 10),
      sc AS (SELECT q.query_id, e.vec_id AS neighbor_id, SUM(q.pd) AS adc
             FROM enc e JOIN qd q ON q.subspace = e.subspace AND q.code = e.code AND q.query_id <> e.vec_id
             GROUP BY 1, 2),
      r AS (SELECT query_id, neighbor_id, adc,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk FROM sc)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, CAST(adc AS DOUBLE) AS adc
      FROM r WHERE rk <= 5 ORDER BY query_id, rk""")
  )

  /** IVF-PQ composed serving, hash-exact: seed cells (q47's convention)
    * prune the scan to nprobe cells per query, seed codebooks (q96's
    * convention) score the survivors by decimal ADC — the oracle
    * replays coarse assignment, probing, encoding, and ADC summation
    * end-to-end. */
  private val q97 = Q(
    "q97_ivf_pq_adc",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      val cb = Similarity.pqTrain(e, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, numCells = 16, nprobe = 2, topK = 5)
    },
    Some(s"""WITH v AS ($sqlVecView),
      n AS (SELECT vec_id, emb, sqrt(list_reduce(list_transform(emb, x -> x*x), (x,y) -> x+y)) AS nrm FROM v),
      cent AS (SELECT vec_id AS cell_id, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
      asg AS (SELECT vec_id, cell_id FROM (
        SELECT x.vec_id, cent.cell_id,
          ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, cent.cemb), p -> struct_extract(p,1)*struct_extract(p,2)), (a,b) -> a+b)
             / (x.nrm * cent.cnrm)) DESC, cell_id DESC) AS rn
        FROM n x, cent) WHERE rn = 1),
      probes AS (SELECT vec_id AS query_id, cell_id FROM (
        SELECT x.vec_id, cent.cell_id,
          ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, cent.cemb), p -> struct_extract(p,1)*struct_extract(p,2)), (a,b) -> a+b)
             / (x.nrm * cent.cnrm)) DESC, cell_id DESC) AS rn
        FROM n x, cent WHERE x.vec_id < 10) WHERE rn <= 2),
      sub AS (SELECT vec_id, s.s AS subspace, list_slice(emb, s.s*8+1, s.s*8+8) AS sv
              FROM v, (SELECT unnest(range(8)) AS s) s),
      cb AS (SELECT subspace, CAST(vec_id AS INTEGER) AS code, sv AS cw FROM sub WHERE vec_id < 16),
      asn AS (SELECT d.vec_id, d.subspace, c.code, ${sqlSqDist("d.sv", "c.cw")} AS dist
              FROM sub d JOIN cb c USING (subspace)),
      enc AS (SELECT vec_id, subspace, code FROM asn
              QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code) = 1),
      qd AS (SELECT vec_id AS query_id, subspace, code, CAST(ROUND(dist, 8) AS DECIMAL(28,10)) AS pd
             FROM asn WHERE vec_id < 10),
      sc AS (SELECT p.query_id, a.vec_id AS neighbor_id, SUM(q.pd) AS adc
             FROM asg a JOIN probes p ON p.cell_id = a.cell_id AND p.query_id <> a.vec_id
             JOIN enc e ON e.vec_id = a.vec_id
             JOIN qd q ON q.query_id = p.query_id AND q.subspace = e.subspace AND q.code = e.code
             GROUP BY 1, 2),
      r AS (SELECT query_id, neighbor_id, adc,
              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rk FROM sc)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, CAST(adc AS DOUBLE) AS adc
      FROM r WHERE rk <= 5 ORDER BY query_id, rk""")
  )

  /** Repeated-passage detection (suffix-array-style substring dedup,
    * Spark-shaped): positional 5-token windows hashed, cross-doc
    * repeated hashes merged to maximal redaction spans per doc. */
  private val q98 = Q(
    "q98_repeated_passages",
    (s, dir) =>
      Dedup.repeatedPassages(fixture(s, dir, "documents"), "doc_id", "text", k = 5, minDocs = 2),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                md5(array_to_string(list_slice(t, i.i + 1, i.i + 5), ' ')) AS h
              FROM toks, LATERAL (SELECT unnest(range(len(t) - 4)) AS i) i
              WHERE len(t) >= 5),
      freq AS (SELECT h, COUNT(*) AS n_docs FROM (SELECT DISTINCT h, doc_id FROM win)
               GROUP BY h HAVING COUNT(*) >= 2),
      hits AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f USING (h)),
      marked AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS brk
        FROM hits),
      spans AS (SELECT doc_id, pos,
          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
        FROM marked)
      SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_tok, CAST(MAX(pos) + 5 AS INTEGER) AS end_tok,
             COUNT(*) AS n_win
      FROM spans GROUP BY doc_id, span ORDER BY doc_id, start_tok""")
  )

  /** q98's capped twin — the superlinear-tail bound (SCALE_r14b
    * measured 4.76× at 10× data): shingles in more than
    * maxDocsPerShingle docs are boilerplate by construction and are
    * dropped via a broadcast anti-join (drop counts observable through
    * the Observation hook, asserted in DedupSpec). The oracle replays
    * the cap as an upper bound on the frequency HAVING clause. */
  private val q98b = Q(
    "q98b_repeated_passages_capped",
    (s, dir) =>
      Dedup.repeatedPassages(fixture(s, dir, "documents"), "doc_id", "text", k = 5,
        minDocs = 2, maxDocsPerShingle = Some(3)),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                md5(array_to_string(list_slice(t, i.i + 1, i.i + 5), ' ')) AS h
              FROM toks, LATERAL (SELECT unnest(range(len(t) - 4)) AS i) i
              WHERE len(t) >= 5),
      freq AS (SELECT h, COUNT(*) AS n_docs FROM (SELECT DISTINCT h, doc_id FROM win)
               GROUP BY h HAVING COUNT(*) >= 2 AND COUNT(*) <= 3),
      hits AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f USING (h)),
      marked AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS brk
        FROM hits),
      spans AS (SELECT doc_id, pos,
          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
        FROM marked)
      SELECT doc_id, CAST(MIN(pos) AS INTEGER) AS start_tok, CAST(MAX(pos) + 5 AS INTEGER) AS end_tok,
             COUNT(*) AS n_win
      FROM spans GROUP BY doc_id, span ORDER BY doc_id, start_tok""")
  )

  /** Span redaction end-to-end: q98's spans applied back onto the
    * corpus, output pinned by md5 of every rewritten document. */
  private val q99 = Q(
    "q99_redact_passages",
    (s, dir) => {
      val docs = fixture(s, dir, "documents")
      val spans = Dedup.repeatedPassages(docs, "doc_id", "text", k = 5, minDocs = 2)
      Dedup.redactPassages(docs, "doc_id", "text", spans)
        .select(col("doc_id"), md5(col("clean_text")).as("clean_md5"),
          col("n_kept"), col("n_redacted"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      win AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos,
                md5(array_to_string(list_slice(t, i.i + 1, i.i + 5), ' ')) AS h
              FROM toks, LATERAL (SELECT unnest(range(len(t) - 4)) AS i) i
              WHERE len(t) >= 5),
      freq AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM win) GROUP BY h HAVING COUNT(*) >= 2),
      hits AS (SELECT w.doc_id, w.pos FROM win w JOIN freq f USING (h)),
      marked AS (SELECT doc_id, pos,
          CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 5 THEN 0 ELSE 1 END AS brk
        FROM hits),
      sp AS (SELECT doc_id, pos,
          SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span
        FROM marked),
      spans AS (SELECT doc_id, MIN(pos) AS start_tok, MAX(pos) + 5 AS end_tok FROM sp GROUP BY doc_id, span),
      tokrows AS (SELECT doc_id, CAST(i.i AS INTEGER) AS pos, t[i.i + 1] AS tok
                  FROM toks, LATERAL (SELECT unnest(range(len(t))) AS i) i),
      kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tokrows tk
               WHERE NOT EXISTS (SELECT 1 FROM spans s
                 WHERE s.doc_id = tk.doc_id AND tk.pos >= s.start_tok AND tk.pos < s.end_tok)),
      agg AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5,
                CAST(COUNT(*) AS INTEGER) AS n_kept FROM kept GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(a.clean_md5, md5('')) AS clean_md5,
             COALESCE(a.n_kept, 0) AS n_kept,
             CAST(len(d2.t) AS INTEGER) - COALESCE(a.n_kept, 0) AS n_redacted
      FROM documents d JOIN toks d2 USING (doc_id) LEFT JOIN agg a ON a.doc_id = d.doc_id
      ORDER BY d.doc_id""")
  )

  /** Index-served IVF-PQ: same answer as q97 (direct path) computed
    * through a persisted [[Similarity.buildPqIndex]] bucketed table —
    * one oracle pins both, the spec pins SelectedBucketsCount pruning.
    *
    * Timing note: the measured cost of this query is dominated by
    * BUILDING the index inside the timed body (pqTrain + cellCodes +
    * bucketed CTAS run per execution so the query stays
    * self-contained); the serving tail — probe cells, read only their
    * bucket files, ADC-score survivors — is sub-second. At 100 TB the
    * build is a one-off offline job and only the serving shape recurs. */
  private val q100 = Q(
    "q100_pq_index_serving",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      val cb = Similarity.pqTrain(e, "vec_id", "embedding", dim = 64, m = 8, k = 16)
      Similarity.buildPqIndex(e, "vec_id", "embedding", cb, "q100_pq_index",
        dim = 64, m = 8, numCells = 16, numBuckets = 8)
      Similarity.queryPqIndex(s, "q100_pq_index", e.filter(col("vec_id") < 10),
        "vec_id", "embedding", cb, dim = 64, m = 8, k = 16, nprobe = 2, topK = 5)
    },
    q97.oracle
  )

  /** Recall@k audit of IVF-PQ served with k-means-REFINED coarse
    * centroids vs the raw seed cells — q87's audit shape applied to
    * the composed PQ serving path (the production FAISS configuration:
    * refine the coarse quantizer offline, serve probe+ADC). Both
    * variants and the brute-force truth are scored distributed
    * (semi-join hit counts, no collect). Hash-exact oracle, exactly
    * as q87: the Lloyd replay supplies the refined centroids and
    * q97's proven IVF-PQ replay (seed codebooks, decimal ADC) serves
    * both variants — composed with the components hash-pinned
    * elsewhere: seed-centroid IVF-PQ end-to-end (q97/q100), ADC
    * arithmetic (q96), and refined-centroids index-vs-direct
    * equivalence (SimilaritySpec). On this synthetic
    * fixture (near-uniform embeddings, no cluster structure)
    * refinement holds recall level rather than raising it — same
    * caveat as q87. */
  private val q101 = Q(
    "q101_ivf_pq_refined_recall",
    (s, dir) => {
      // one materialization feeds every pass, at the session's shuffle
      // width — see q87's note on why the audit must NOT narrow it.
      // truth, PQ codebook training and coarse-centroid refinement are
      // three independent eager chains — overlapped on driver threads
      // exactly as in q87 (the audit's cold cost is sequential
      // plan-compile/scheduling of many small jobs, not data volume).
      val e = fixture(s, dir, "embeddings").localCheckpoint(true)
      val qs = e.filter(col("vec_id") < 10)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val truthF = Future(
        Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true))
      val cbF = Future(Similarity.pqTrain(e, "vec_id", "embedding", dim = 64, m = 8, k = 16))
      val refinedF = Future(Similarity.kmeansCentroids(e, "vec_id", "embedding", k = 16,
        iters = 2, checkpointInterval = 2))
      val truth = Await.result(truthF, Duration.Inf)
      val cb = Await.result(cbF, Duration.Inf)
      val refined = Await.result(refinedF, Duration.Inf)
      val annRefined = Similarity.ivfPqTopKWithCentroids(e, qs, "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, centroids = refined, nprobe = 2, topK = 5)
      val annSeed = Similarity.ivfPqTopK(e, qs, "vec_id", "embedding",
        cb, dim = 64, m = 8, k = 16, numCells = 16, nprobe = 2, topK = 5)
      val ann = annRefined.withColumn("variant", lit("refined"))
        .unionByName(annSeed.withColumn("variant", lit("seed")))
        .select(col("variant"), col("query_id"), col("neighbor_id"))
      val hits = ann.join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(
          sum(when(col("variant") === "refined", 1L).otherwise(0L)).as("hits_refined"),
          sum(when(col("variant") === "seed", 1L).otherwise(0L)).as("hits_seed"))
      truth.agg(count(lit(1)).as("n_truth")).crossJoin(hits).select(
        col("n_truth"), col("hits_refined"), col("hits_seed"),
        round(col("hits_refined").cast("double") / col("n_truth"), 4).as("recall_refined"),
        round(col("hits_seed").cast("double") / col("n_truth"), 4).as("recall_seed"))
    },
    // hash-exact: the Lloyd replay (sqlKmeans2TruthCte) supplies the
    // refined coarse centroids and q97's proven IVF-PQ replay (seed
    // codebooks, decimal ADC) serves both variants against the
    // brute-force truth — the full composed audit is re-derived
    Some(s"""WITH $sqlKmeans2TruthCte,
      asg AS (SELECT variant, vec_id, cell_id FROM (
        SELECT c.variant, x.vec_id, c.cell_id,
          ROW_NUMBER() OVER (PARTITION BY c.variant, x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
             / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
        FROM n0 x, cbn c) WHERE rn = 1),
      prb AS (SELECT variant, query_id, cell_id FROM (
        SELECT c.variant, x.vec_id AS query_id, c.cell_id,
          ROW_NUMBER() OVER (PARTITION BY c.variant, x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, c.cv), p -> struct_extract(p,1)*struct_extract(p,2)), (q,y) -> q+y)
             / (x.nrm * c.cnrm)) DESC, c.cell_id DESC) AS rn
        FROM (SELECT * FROM n0 WHERE vec_id < 10) x, cbn c) WHERE rn <= 2),
      sub AS (SELECT vec_id, s.s AS subspace, list_slice(emb, s.s*8+1, s.s*8+8) AS sv
              FROM v, (SELECT unnest(range(8)) AS s) s),
      cb AS (SELECT subspace, CAST(vec_id AS INTEGER) AS code, sv AS cw FROM sub WHERE vec_id < 16),
      asn AS (SELECT d.vec_id, d.subspace, c.code, ${sqlSqDist("d.sv", "c.cw")} AS dist
              FROM sub d JOIN cb c USING (subspace)),
      enc AS (SELECT vec_id, subspace, code FROM asn
              QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, subspace ORDER BY dist, code) = 1),
      qd AS (SELECT vec_id AS query_id, subspace, code, CAST(ROUND(dist, 8) AS DECIMAL(28,10)) AS pd
             FROM asn WHERE vec_id < 10),
      sc AS (SELECT a.variant, p.query_id, a.vec_id AS neighbor_id, SUM(q.pd) AS adc
             FROM asg a JOIN prb p ON p.variant = a.variant AND p.cell_id = a.cell_id AND p.query_id <> a.vec_id
             JOIN enc e ON e.vec_id = a.vec_id
             JOIN qd q ON q.query_id = p.query_id AND q.subspace = e.subspace AND q.code = e.code
             GROUP BY 1, 2, 3),
      ann AS (SELECT variant, query_id, neighbor_id FROM (
        SELECT variant, query_id, neighbor_id,
          ROW_NUMBER() OVER (PARTITION BY variant, query_id ORDER BY adc, neighbor_id) AS rk FROM sc)
        WHERE rk <= 5),
      hits AS (SELECT
          SUM(CASE WHEN variant = 'refined' THEN 1 ELSE 0 END) AS hr,
          SUM(CASE WHEN variant = 'seed' THEN 1 ELSE 0 END) AS hs
        FROM ann a WHERE EXISTS (SELECT 1 FROM truth t
          WHERE t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id)),
      nt AS (SELECT COUNT(*) AS n_truth FROM truth)
      SELECT n_truth, CAST(hr AS BIGINT) AS hits_refined, CAST(hs AS BIGINT) AS hits_seed,
        ROUND(CAST(hr AS DOUBLE) / n_truth, 4) AS recall_refined,
        ROUND(CAST(hs AS DOUBLE) / n_truth, 4) AS recall_seed
      FROM nt, hits""")
  )

  /** Manifest-pruned snapshot reads end-to-end, oracle-pinned: commit
    * lineitem into a snapshot table z-order-clustered on (l_orderkey,
    * l_partkey) with a per-file stats manifest on both columns, read it
    * back through readPrunedBox with a box predicate, and aggregate —
    * the DuckDB oracle computes the same filter over the RAW parquet,
    * so a hash match pins that file skipping NEVER changes answers
    * (the stats/clustering layer is pure IO reduction). The
    * files-scanned < files-total half of the contract is asserted in
    * the spec twin (SnapshotTablesSpec: q102 shape) — file counts are
    * not SQL-observable. */
  private val q102 = Q(
    "q102_pruned_snapshot_read",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q102-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      t.overwriteTable(
        graft.io.Sinks.zorderCluster(li, Seq("l_orderkey", "l_partkey"), numFiles = 16),
        "li_z", Nil, statsCols = Seq("l_orderkey", "l_partkey"))
      t.readPrunedBox("li_z", Seq(("l_orderkey", 100, 1000), ("l_partkey", 10, 120)))
        .filter(col("l_orderkey").between(100, 1000) && col("l_partkey").between(10, 120))
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("l_orderkey"))
    },
    Some("""SELECT l_orderkey, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey BETWEEN 100 AND 1000 AND l_partkey BETWEEN 10 AND 120
      GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  /** Write-audit-publish end-to-end, oracle-pinned: land orders v1,
    * fork a branch, stage an upsert batch on it (a restated price band
    * plus late-arriving orders — the audit-side content), publish, and
    * aggregate main — the DuckDB oracle computes the same final state
    * from the raw parquet, so a hash match pins that the branch
    * staging + fast-forward publish path produces exactly the content
    * a direct commit would (WAP changes WHO SEES WHEN, never WHAT).
    * Isolation/refusal/retention halves live in the spec twins. */
  private val q114 = Q(
    "q114_branch_publish",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q114-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val o = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      t.overwriteTable(o.filter(col("o_orderkey") <= 8000), "o_wap")
      t.createBranch("o_wap", "audit")
      val updates = o
        .filter(col("o_orderkey") > 2000 && col("o_orderkey") <= 3000)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.filter(col("o_orderkey") > 8000 && col("o_orderkey") <= 10000))
      t.mergeToBranch("o_wap", "audit", updates, keyCols = Seq("o_orderkey"))
      t.publish("o_wap", "audit")
      t.read("o_wap")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(28,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH v2 AS (SELECT o_orderstatus,
        CASE WHEN o_orderkey > 2000 AND o_orderkey <= 3000 THEN o_totalprice * 2
             ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey <= 10000)
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** Bloom-sketch point-lookup pruning end-to-end, oracle-pinned: land
    * lineitem UNSORTED (every file spans the whole key domain — range
    * stats are useless for a point probe, the case membership sketches
    * exist for), commit with per-file Bloom sketches on l_orderkey,
    * read through readPrunedIn with an IN probe, and aggregate — the
    * DuckDB oracle computes the same IN filter over the RAW parquet,
    * so a hash match pins that sketch-based file skipping NEVER
    * changes answers (false positives only keep extra files; the
    * row-level filter still applies). The files-skipped half of the
    * contract is in the spec twin (SnapshotTablesSpec bloom test). */
  private val q113 = Q(
    "q113_bloom_pruned_read",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q113-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      t.overwriteTable(li.repartition(16), "li_b", Nil,
        statsCols = Seq("l_orderkey"), sketchCols = Seq("l_orderkey"))
      val keys = Seq(42L, 1234L, 4242L, 9999L, 987654321L) // last one absent
      t.readPrunedIn("li_b", "l_orderkey", keys)
        .filter(col("l_orderkey").isin(keys: _*))
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("l_orderkey"))
    },
    Some("""SELECT l_orderkey, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey IN (42, 1234, 4242, 9999, 987654321)
      GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  /** Hidden partitioning end-to-end, oracle-pinned: commit events
    * day-partitioned through a PARTITION TRANSFORM (the derived
    * `__p_days_ts` column is directory layout only — readers never see
    * it), then answer a timestamp-range aggregate through
    * readPartitionRange (source-column bounds rewritten into
    * partition-directory filters) plus the exact row filter — the
    * DuckDB oracle computes the same filter over the raw parquet, so a
    * hash match pins that the transform layout + predicate rewrite
    * never change answers. The directories-pruned half lives in the
    * spec twin (PartitionFilters + whole-day-granularity counts). */
  private val q122 = Q(
    "q122_hidden_partitioning",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q122-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val e = fixture(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val byDay = graft.io.SnapshotTables.PartitionTransform.days("ts")
      t.overwriteTableTransformed(e, "ev_hp", Seq(byDay))
      t.readPartitionRange("ev_hp", byDay, "2024-01-10 06:00:00", "2024-01-12 18:00:00")
        .filter(col("ts").between(lit("2024-01-10 06:00:00").cast("timestamp"),
          lit("2024-01-12 18:00:00").cast("timestamp")))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events
      WHERE CAST(ts AS TIMESTAMP) BETWEEN TIMESTAMP '2024-01-10 06:00:00' AND TIMESTAMP '2024-01-12 18:00:00'
      GROUP BY user_id ORDER BY user_id""")
  )

  /** Interval-overlap join, hash-exact: per-user pairs of events whose
    * 2-minute activity windows intersect — interval × interval where
    * q45's range join is point × interval. The grid-cell plan (explode
    * into 60 s cells, equi-join on (user, cell), exact predicate,
    * emit-once at the max-start cell — dedup WITHOUT a distinct) must
    * produce exactly the naive inequality join's pairs: the oracle IS
    * that naive join. Aggregated per user so the output is compact. */
  private val q121 = Q(
    "q121_overlap_join",
    (s, dir) => {
      val e = fixture(s, dir, "events")
        .withColumn("sec", expr("unix_micros(ts) div 1000000"))
      val a = e.select(col("user_id"), col("event_id").as("a_id"),
        col("sec").as("a_start"), (col("sec") + 120).as("a_end"))
      val b = e.select(col("user_id"), col("event_id").as("b_id"),
        col("sec").as("b_start"), (col("sec") + 120).as("b_end"))
      graft.operators.TemporalJoins.overlapJoin(a, "a_start", "a_end", b, "b_start", "b_end",
        keys = Seq("user_id"), cellWidth = 60L)
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id,
        epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS s FROM events)
      SELECT a.user_id, COUNT(*) AS n_pairs
      FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        AND a.s <= b.s + 120 AND b.s <= a.s + 120
      GROUP BY a.user_id ORDER BY a.user_id""")
  )

  /** Data-quality audit battery, hash-exact: dbt-style checks over
    * lineitem — a deliberately mixed outcome (unique(l_orderkey) fails
    * on every multi-line order, accepted_values(l_linenumber ∈ 1..4)
    * fails on long orders, not_null and referential integrity hold) so
    * the oracle pins both zero and non-zero counts. Every rule is one
    * aggregate / one anti-join; the oracle recomputes each verbatim. */
  private val q119 = Q(
    "q119_quality_checks",
    (s, dir) => {
      val li = fixture(s, dir, "lineitem")
      graft.operators.Checks.audit(li, Seq(
        graft.operators.Checks.NotNull("l_orderkey"),
        graft.operators.Checks.Unique(Seq("l_orderkey")),
        graft.operators.Checks.AcceptedValues("l_linenumber", Seq(1, 2, 3, 4)),
        graft.operators.Checks.ReferencedIn("l_partkey", fixture(s, dir, "part"), "p_partkey")))
    },
    Some("""SELECT 'accepted_values(l_linenumber)' AS check,
        CAST(COUNT(*) FILTER (WHERE l_linenumber IS NOT NULL AND l_linenumber NOT IN (1,2,3,4)) AS BIGINT) AS violations
      FROM lineitem
      UNION ALL
      SELECT 'not_null(l_orderkey)',
        CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'referenced_in(l_partkey)', CAST(COUNT(*) AS BIGINT)
      FROM lineitem WHERE l_partkey IS NOT NULL
        AND l_partkey NOT IN (SELECT p_partkey FROM part)
      UNION ALL
      SELECT 'unique(l_orderkey)',
        CAST(COALESCE(SUM(n), 0) AS BIGINT)
      FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1)
      ORDER BY "check" """)
  )

  /** Metadata-only aggregates, oracle-pinned: commit lineitem with a
    * stats manifest, then answer COUNT/MIN/MAX/null-count per column
    * from the MANIFEST ALONE — the DuckDB oracle computes the same
    * aggregates over the raw parquet, so a hash match pins that footer
    * statistics are exact for these queries (no data file opened —
    * the spec twin asserts inputFiles stay under metadata/). */
  private val q118 = Q(
    "q118_manifest_stats",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q118-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      t.overwriteTable(li.repartition(8), "li_m", Nil,
        statsCols = Seq("l_orderkey", "l_quantity"))
      t.manifestAgg("li_m", Seq("l_orderkey", "l_quantity"))
    },
    Some("""SELECT col AS "column", n_rows, min_num, max_num, n_nulls FROM (
      SELECT 'l_orderkey' AS col, COUNT(*) AS n_rows,
        CAST(MIN(l_orderkey) AS DOUBLE) AS min_num, CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
        COUNT(*) - COUNT(l_orderkey) AS n_nulls FROM lineitem
      UNION ALL
      SELECT 'l_quantity', COUNT(*),
        CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
        COUNT(*) - COUNT(l_quantity) FROM lineitem)
      ORDER BY "column" """)
  )

  /** SemDeDup-shaped semantic dedup, hash-exact: seed cells (q47's
    * convention, ids < numCells) make the coarse assignment
    * SQL-replayable, within-cell pairs above the cosine threshold mark
    * their larger id dropped (greedy keep-first), and the oracle
    * replays assignment (same rn=1 / cell_id DESC tie rule), pairing,
    * and the NOT IN survivor rule verbatim. The production
    * configuration swaps in kmeansCentroids — identical plan, audited
    * the rows-only way like q87/q101. */
  private val q112 = Q(
    "q112_semantic_dedup",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      Similarity.semanticDedup(e, "vec_id", "embedding", numCells = 16, threshold = 0.3)
        .withColumnRenamed("id", "vec_id")
    },
    Some(s"""WITH v AS ($sqlVecView),
      n AS (SELECT vec_id, emb,
              sqrt(list_reduce(list_transform(emb, x -> x*x), (x,y) -> x+y)) AS nrm FROM v),
      cent AS (SELECT vec_id AS cell_id, emb AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
      asg AS (SELECT vec_id, emb, nrm, cell_id FROM (
        SELECT x.vec_id, x.emb, x.nrm, cent.cell_id,
          ROW_NUMBER() OVER (PARTITION BY x.vec_id ORDER BY
            (list_reduce(list_transform(list_zip(x.emb, cent.cemb), p -> struct_extract(p,1)*struct_extract(p,2)), (a,b) -> a+b)
             / (x.nrm * cent.cnrm)) DESC, cell_id DESC) AS rn
        FROM n x, cent) WHERE rn = 1),
      dropped AS (SELECT DISTINCT pb.vec_id AS id
        FROM asg pa JOIN asg pb ON pa.cell_id = pb.cell_id AND pa.vec_id < pb.vec_id
        WHERE (list_reduce(list_transform(list_zip(pa.emb, pb.emb), p -> struct_extract(p,1)*struct_extract(p,2)), (x,y) -> x+y)
               / (pa.nrm * pb.nrm)) > 0.3)
      SELECT vec_id, cell_id, vec_id NOT IN (SELECT id FROM dropped) AS kept
      FROM asg ORDER BY vec_id""")
  )

  /** MMR-diversified re-rank, hash-exact: brute-force top-10
    * candidates per query (q38's convention — raw-score window rank,
    * rel rounded to 6 dp), then THREE greedy MMR selections at λ=0.7,
    * each unrolled as its own CTE in the oracle — step i's argmax of
    * λ·rel − (1−λ)·round(maxcos, 8), ties to the smaller id, replayed
    * verbatim. The objective is EXACT DECIMAL arithmetic in both
    * engines (the q91/q105 contract): rel sits on a 6-dp grid, so
    * λ·rel hits a .5 rounding boundary at 6 dp for ~1 in 10 values and
    * double-rounding it is exactly where Spark (shortest-repr HALF_UP)
    * and DuckDB (binary expansion) disagree — measured on this very
    * fixture before the decimal contract was applied. DuckDB decimal
    * literals (0.7, 1.0 − 0.7) are exact, rel/maxsim are cast to
    * DECIMAL after their grid rounding, and the final value is emitted
    * as the decimal's nearest double with NO final round. */
  private val q116 = Q(
    "q116_mmr_rerank",
    (s, dir) => {
      val e = fixture(s, dir, "embeddings")
      val cand = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
      Similarity.mmrRerank(cand, e, "vec_id", "embedding", selectK = 3, lambda = 0.7)
    },
    Some(s"""WITH v AS ($sqlVecView),
      n AS (SELECT vec_id, emb,
              sqrt(list_reduce(list_transform(emb, x -> x*x), (x,y) -> x+y)) AS nrm FROM v),
      q AS (SELECT vec_id, emb, nrm FROM n WHERE vec_id < 5),
      sc AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.emb AS cemb,
               (list_reduce(list_transform(list_zip(q.emb, c.emb), p -> struct_extract(p,1)*struct_extract(p,2)), (x,y) -> x+y)
                / (q.nrm * c.nrm)) AS rawrel
             FROM q, n c WHERE c.vec_id <> q.vec_id),
      cand AS (SELECT query_id, cand_id, cemb, ROUND(rawrel, 6) AS rel FROM (
        SELECT sc.*, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rawrel DESC, cand_id) AS rn FROM sc)
        WHERE rn <= 10),
      s1 AS (SELECT query_id, cand_id, cemb, rel, 0.7 * CAST(rel AS DECIMAL(18,6)) AS mmr FROM (
        SELECT cand.*, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS r FROM cand)
        WHERE r = 1),
      m2 AS (SELECT c.query_id, c.cand_id, c.cemb, c.rel,
               0.7 * CAST(c.rel AS DECIMAL(18,6))
               - (1.0 - 0.7) * CAST(ROUND(${sqlCosine("c.cemb", "s1.cemb")}, 8) AS DECIMAL(18,8)) AS mmr
             FROM cand c JOIN s1 ON c.query_id = s1.query_id AND c.cand_id <> s1.cand_id),
      s2 AS (SELECT query_id, cand_id, cemb, rel, mmr FROM (
        SELECT m2.*, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr DESC, cand_id) AS r FROM m2)
        WHERE r = 1),
      m3 AS (SELECT c.query_id, c.cand_id, c.rel,
               0.7 * CAST(c.rel AS DECIMAL(18,6))
               - (1.0 - 0.7) * CAST(ROUND(GREATEST(${sqlCosine("c.cemb", "s1.cemb")}, ${sqlCosine("c.cemb", "s2.cemb")}), 8) AS DECIMAL(18,8)) AS mmr
             FROM cand c
             JOIN s1 ON c.query_id = s1.query_id AND c.cand_id <> s1.cand_id
             JOIN s2 ON c.query_id = s2.query_id AND c.cand_id <> s2.cand_id),
      s3 AS (SELECT query_id, cand_id, mmr FROM (
        SELECT m3.*, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY mmr DESC, cand_id) AS r FROM m3)
        WHERE r = 1),
      sel AS (SELECT query_id, 1 AS rk, cand_id, CAST(mmr AS DOUBLE) AS mmr FROM s1
        UNION ALL SELECT query_id, 2, cand_id, CAST(mmr AS DOUBLE) FROM s2
        UNION ALL SELECT query_id, 3, cand_id, CAST(mmr AS DOUBLE) FROM s3)
      SELECT query_id, CAST(rk AS INTEGER) AS rk, cand_id AS neighbor_id, mmr
      FROM sel ORDER BY query_id, rk""")
  )

  /** CDC-maintained aggregate exercised end-to-end on the DELTA path:
    * v1 of a snapshot source bootstraps the view, v2 churns it (new
    * orders arrive, old ones age out, a band is restated in place),
    * and the refresh applies only diffKeyed's changed rows — the
    * DuckDB oracle computes the same GROUP BY directly over v2's
    * content, so a hash match proves delta maintenance equals a
    * from-scratch recompute. Measure sums are decimal (exact delta
    * arithmetic), cast to double only at the output edge. */
  private val q109 = Q(
    "q109_incremental_agg",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q109-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      // orders: the fixture table with a genuinely unique key (diffKeyed
      // requires one; the synthetic lineitem duplicates (orderkey, line))
      val o = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      t.overwriteTable(o.filter(col("o_orderkey") <= 8000), "o_src")
      graft.io.IncrementalAgg.refresh(t, "o_src", Seq("o_orderkey"),
        "o_agg", Seq("o_orderstatus"), Seq("o_totalprice"))
      val v2 = o.filter(col("o_orderkey") <= 10000 && col("o_orderkey") > 1000)
        .withColumn("o_totalprice",
          when(col("o_orderkey") > 2000 && col("o_orderkey") <= 3000, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
      t.overwriteTable(v2, "o_src")
      graft.io.IncrementalAgg.refresh(t, "o_src", Seq("o_orderkey"),
        "o_agg", Seq("o_orderstatus"), Seq("o_totalprice"))
      t.read("o_agg").select(col("o_orderstatus"), col("n"),
        col("sum_o_totalprice").cast("double").as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH v2 AS (SELECT o_orderstatus,
        CASE WHEN o_orderkey > 2000 AND o_orderkey <= 3000 THEN o_totalprice * 2
             ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey <= 10000 AND o_orderkey > 1000)
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
      FROM v2 GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** OPTIMIZE … ZORDER BY under the correctness gate: land a snapshot
    * deliberately scattered (16 unclustered files), OPTIMIZE it
    * (z-order rewrite + fresh stats manifest as a new layout-only
    * version), then aggregate through a box-pruned read — the oracle
    * computes the same filter over the RAW parquet, so the hash match
    * pins that the maintenance rewrite changed LAYOUT ONLY and that
    * pruned reads over the optimized table never change answers. The
    * files-skipped half lives in the spec twin (SnapshotTablesSpec
    * optimize test); q102 pins the same contract for first-write
    * clustering. */
  private val q111 = Q(
    "q111_optimize_zorder",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q111-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      t.overwriteTable(li.repartition(16), "li_z")
      t.optimize("li_z", Seq("l_orderkey", "l_partkey"), targetFileBytes = 64L << 10)
      t.readPrunedBox("li_z", Seq(("l_orderkey", 100, 1000), ("l_partkey", 10, 120)))
        .filter(col("l_orderkey").between(100, 1000) && col("l_partkey").between(10, 120))
        .groupBy(col("l_orderkey"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("l_orderkey"))
    },
    Some("""SELECT l_orderkey, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM lineitem
      WHERE l_orderkey BETWEEN 100 AND 1000 AND l_partkey BETWEEN 10 AND 120
      GROUP BY l_orderkey ORDER BY l_orderkey""")
  )

  /** Register a throwaway [[graft.catalog.SnapshotCatalog]] for one
    * query run. The name is unique per call because `CatalogManager`
    * caches plugin instances by name — re-setting the conf for an
    * already-loaded catalog would NOT re-initialize its root, so a
    * second run in the same session would resolve the first run's
    * directory. */
  private def tempCatalog(s: org.apache.spark.sql.SparkSession): String = {
    val cat = "glake" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val root = java.nio.file.Files.createTempDirectory(s"graft-$cat").toString
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.SnapshotCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE $cat.dw")
    cat
  }

  /** The SQL DML surface end-to-end through the V2 catalog,
    * oracle-pinned: CTAS an orders subset into `cat.dw.o`, then pure
    * SQL — UPDATE restates a price band, DELETE drops early 'F'
    * orders, MERGE upserts a late-arriving batch — and the final
    * SELECT joins the current state to a `VERSION AS OF 1` count. The
    * DuckDB oracle replays the same mutations as CASE/anti-filters
    * over the raw parquet, so a hash match pins that the analyzer-rule
    * → copy-on-write-commit route (plans/SnapshotDmlRule) computes
    * exactly what the SQL says, and that time travel still sees the
    * pre-DML snapshot (reference capability: Iceberg SQL DML +
    * time travel, readme.md:93-114 / job_gold.py:71-88). */
  private val q125 = Q(
    "q125_sql_dml_catalog",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q125_orders")
      s.sql(s"""CREATE TABLE $cat.dw.o AS
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q125_orders WHERE o_orderkey <= 5000""")
      s.sql(s"""UPDATE $cat.dw.o SET o_totalprice = o_totalprice * 2
                WHERE o_orderkey BETWEEN 2000 AND 3000""")
      s.sql(s"DELETE FROM $cat.dw.o WHERE o_orderkey <= 500 AND o_orderstatus = 'F'")
      s.sql(s"""MERGE INTO $cat.dw.o AS t
                USING (SELECT o_orderkey, o_orderstatus, o_totalprice + 10 AS o_totalprice
                       FROM q125_orders
                       WHERE o_orderkey > 4000 AND o_orderkey <= 7000) AS src
                ON t.o_orderkey = src.o_orderkey
                WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice
                WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"""SELECT c.o_orderstatus, c.n, c.sum_price, v.n_v1
                FROM (SELECT o_orderstatus, COUNT(*) AS n,
                        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
                      FROM $cat.dw.o GROUP BY o_orderstatus) c
                CROSS JOIN (SELECT COUNT(*) AS n_v1 FROM $cat.dw.o VERSION AS OF 1) v
                ORDER BY c.o_orderstatus""")
    },
    Some("""WITH fin AS (
        SELECT o_orderstatus,
          CASE WHEN o_orderkey > 4000 THEN o_totalprice + 10
               WHEN o_orderkey BETWEEN 2000 AND 3000 THEN o_totalprice * 2
               ELSE o_totalprice END AS p
        FROM orders
        WHERE o_orderkey <= 7000
          AND NOT (o_orderkey <= 500 AND o_orderstatus = 'F'))
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(p AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 5000) AS n_v1
      FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** The reference gold query shape VERBATIM over a 3-level name
    * (job_gold.py:71-88: `SELECT …, count(*) AS qtd FROM
    * silver.dw.tab_brewery WHERE <partition date> GROUP BY 1,2,3 ORDER
    * BY 1,2,3`) — same SQL text modulo table/column names, resolved
    * through the V2 catalog instead of a rewritten 2-part alias. The
    * oracle computes the identical aggregate over the raw parquet. */
  private val q126 = Q(
    "q126_catalog_gold_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q126_orders")
      s.sql(s"""CREATE TABLE $cat.dw.tab_orders AS
                SELECT CAST(o_orderdate AS DATE) AS sys_file_date, o_orderpriority, o_orderstatus
                FROM q126_orders""")
      s.sql(s"""SELECT sys_file_date, o_orderpriority, o_orderstatus, count(*) AS qtd
                FROM $cat.dw.tab_orders
                WHERE sys_file_date >= DATE'1995-01-01' AND sys_file_date < DATE'1995-02-01'
                GROUP BY 1, 2, 3
                ORDER BY 1, 2, 3""")
    },
    Some("""SELECT CAST(o_orderdate AS DATE) AS sys_file_date, o_orderpriority, o_orderstatus,
        count(*) AS qtd
      FROM orders
      WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        AND CAST(o_orderdate AS DATE) < DATE '1995-02-01'
      GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
  )

  /** Cross-table atomic publish (the Nessie capability) end-to-end,
    * oracle-pinned: silver lineitem and its gold aggregate land as one
    * [[graft.io.CommitLog]] commit, a coordinated restatement stages
    * on per-table WAP branches and publishes atomically, and the final
    * query re-derives the gold aggregate FROM the lake-resolved silver
    * and joins it to the lake-resolved gold — stored and recomputed
    * columns agree only if both tables resolve from the SAME catalog
    * commit (gold computed from unpublished silver, or silver ahead of
    * gold, would split them). The DuckDB oracle replays the final
    * state from raw parquet (reference capability: one `nessie` commit
    * spanning silver and gold, datalake_gold_spark_dag.py:181-186). */
  private val q127 = Q(
    "q127_lake_atomic_publish",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q127-lake").toString
      val lake = new graft.io.LakeCommits(s, s"$root/_log")
      val silver = new graft.io.SnapshotTables(s, s"$root/silver")
      val gold = new graft.io.SnapshotTables(s, s"$root/gold")
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      silver.overwriteTable(li.filter(col("l_orderkey") <= 5000), "li")
      gold.overwriteTable(agg(silver.read("li")), "li_agg")
      lake.publish(Seq(silver -> "li", gold -> "li_agg"))
      // coordinated restatement: a quantity correction band + late rows,
      // staged on BOTH tables' branches, published as ONE lake commit
      silver.createBranch("li", "wap")
      gold.createBranch("li_agg", "wap")
      val restated = li.filter(col("l_orderkey") <= 6000)
        .withColumn("l_quantity",
          when(col("l_orderkey").between(1000, 2000), col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
      silver.commitToBranch("li", "wap", restated)
      gold.commitToBranch("li_agg", "wap", agg(silver.readBranch("li", "wap")))
      lake.publishBranches(Seq((silver, "li", "wap"), (gold, "li_agg", "wap")))
      val Seq(sdf, gdf) = lake.readAll(Seq(silver -> "li", gold -> "li_agg"))
      gdf.select(col("l_returnflag"), col("n").as("n_gold"), col("sum_qty").as("sum_qty_gold"))
        .join(agg(sdf).select(col("l_returnflag"),
          col("n").as("n_silver"), col("sum_qty").as("sum_qty_silver")), Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    },
    Some("""WITH fin AS (
        SELECT l_returnflag,
          CASE WHEN l_orderkey BETWEEN 1000 AND 2000 THEN l_quantity + 5
               ELSE l_quantity END AS q
        FROM lineitem WHERE l_orderkey <= 6000),
      agg AS (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sq
        FROM fin GROUP BY l_returnflag)
      SELECT l_returnflag, n AS n_gold, sq AS sum_qty_gold,
        n AS n_silver, sq AS sum_qty_silver
      FROM agg ORDER BY l_returnflag""")
  )

  /** The LOG-GOVERNED catalog end-to-end in pure SQL, oracle-pinned:
    * silver and gold land as published CTAS through a `commitlog`
    * catalog, a coordinated restatement stages on WAP branches and
    * publishes atomically at the LOG level, and then a poison
    * out-of-band commit lands on silver's table line WITHOUT being
    * published. The final statement is ONE SQL join over 3-part names
    * comparing stored gold to gold recomputed from silver — it
    * hash-matches the oracle only if (a) both tables resolve from the
    * same [[graft.io.CommitLog]] commit (the Nessie both-or-neither)
    * and (b) the unpublished poison rows are invisible to SQL readers.
    * Either governance failure changes the numbers. */
  private val q128 = Q(
    "q128_governed_catalog_sql",
    (s, dir) => {
      val cat = "glake" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val root = java.nio.file.Files.createTempDirectory(s"graft-$cat").toString
      val logDir = java.nio.file.Files.createTempDirectory(s"graft-$cat-log").toString
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.catalog.SnapshotCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      s.conf.set(s"spark.sql.catalog.$cat.commitlog", logDir)
      s.sql(s"CREATE NAMESPACE $cat.dw")
      fixture(s, dir, "lineitem").createOrReplaceTempView("q128_lineitem")
      s.sql(s"""CREATE TABLE $cat.dw.li AS
                SELECT l_orderkey, l_returnflag, l_quantity
                FROM q128_lineitem WHERE l_orderkey <= 5000""")
      s.sql(s"""CREATE TABLE $cat.dw.li_agg AS
                SELECT l_returnflag, COUNT(*) AS n,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                FROM $cat.dw.li GROUP BY l_returnflag""")
      // coordinated restatement on WAP branches, one catalog commit
      val st = new graft.io.SnapshotTables(s, s"$root/dw")
      val lake = new graft.io.LakeCommits(s, logDir)
      st.createBranch("li", "wap")
      st.createBranch("li_agg", "wap")
      val restated = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .filter(col("l_orderkey") <= 6000)
        .withColumn("l_quantity",
          when(col("l_orderkey").between(1000, 2000), col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
      st.commitToBranch("li", "wap", restated)
      st.commitToBranch("li_agg", "wap", st.readBranch("li", "wap")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty")))
      lake.publishBranches(Seq((st, "li", "wap"), (st, "li_agg", "wap")))
      // poison: committed to the table line, NEVER published — a log
      // governance failure would double every count below
      st.overwriteTable(st.read("li").unionByName(st.read("li")), "li")
      s.sql(s"""SELECT g.l_returnflag, g.n AS n_gold, g.sum_qty AS sum_qty_gold,
                       c.n AS n_silver, c.sum_qty AS sum_qty_silver
                FROM $cat.dw.li_agg g
                JOIN (SELECT l_returnflag, COUNT(*) AS n,
                        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                      FROM $cat.dw.li GROUP BY l_returnflag) c
                  ON g.l_returnflag = c.l_returnflag
                ORDER BY g.l_returnflag""")
    },
    Some("""WITH fin AS (
        SELECT l_returnflag,
          CASE WHEN l_orderkey BETWEEN 1000 AND 2000 THEN l_quantity + 5
               ELSE l_quantity END AS q
        FROM lineitem WHERE l_orderkey <= 6000),
      agg AS (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sq
        FROM fin GROUP BY l_returnflag)
      SELECT l_returnflag, n AS n_gold, sq AS sum_qty_gold,
        n AS n_silver, sq AS sum_qty_silver
      FROM agg ORDER BY l_returnflag""")
  )

  /** Character-level near-dup verification: edit distance over
    * (lang, length-bucket)-blocked candidate pairs — the verifier
    * token-set Jaccard (q34) can't replace (in-word edits, OCR noise).
    * Both engines ship the same Wagner-Fischer `levenshtein`, so the
    * full pipeline (blocking join → distance → normalized similarity →
    * banding) replays verbatim; the result is the per-band histogram
    * of all 1.7k blocked pairs. */
  /** Edit-distance verification composed the way it scales: the cheap
    * sorted-neighborhood signature pass proposes candidates (|docs|·w
    * pairs BY CONSTRUCTION), a hamming prefilter keeps the likely
    * near-dups, and only the survivors pay a levenshtein — so the most
    * expensive verifier in the engine does LINEAR work at every corpus
    * size. (The round-11 10× smoke measured the previous corpus-sliced
    * blocked form at Σ|block|² ⇒ ~34× linear cost; blocked
    * editDistancePairs keeps its spec + maxBlockSize guard for the
    * candidate-set-sized inputs it is for.) Scoped to one language
    * slice as a per-language dedup pipeline would; the band histogram
    * uses integer arithmetic so band edges can't drift cross-engine.
    * The oracle replays the whole chain — simhash, block sort, window-3
    * leads, hamming ≤ 2, levenshtein, banding — verbatim. */
  private val q130 = Q(
    "q130_edit_distance_verify",
    (s, dir) => {
      val d = fixture(s, dir, "documents").filter(col("lang") === "fr")
      val cand = graft.operators.Dedup.sortedNeighborPairs(d, "doc_id", "text",
        window = 3, blockBits = 4, maxHamming = Some(2))
      graft.operators.Dedup.editDistanceVerify(d, "doc_id", "text", cand, minSim = 0.0)
        .withColumn("sim_band", expr("CAST(((max_len - dist) * 10) DIV max_len AS INT)"))
        .groupBy(col("sim_band"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("dist")).cast("long").as("min_dist"),
          max(col("dist")).cast("long").as("max_dist"),
          sum(col("dist")).as("sum_dist"))
        .orderBy(col("sim_band"))
    },
    Some {
      val lead = (1 to 3).map(i =>
        s"""SELECT doc_id AS l_id, simhash AS l_sig,
            lead(doc_id, $i) OVER (PARTITION BY block ORDER BY simhash, doc_id) AS nb_id,
            lead(simhash, $i) OVER (PARTITION BY block ORDER BY simhash, doc_id) AS nb_sig
            FROM blk""").mkString(" UNION ALL ")
      s"""WITH fr AS (SELECT * FROM documents WHERE lang = 'fr'),
          ${sqlSimhashCtesFor("fr")},
          blk AS (SELECT doc_id, simhash, CAST(simhash >> 12 AS INTEGER) AS block FROM sim),
          nb AS ($lead),
          p AS (SELECT LEAST(l_id, nb_id) AS a, GREATEST(l_id, nb_id) AS b,
                  CAST(bit_count(xor(l_sig, nb_sig)) AS INTEGER) AS hamming
                FROM nb WHERE nb_id IS NOT NULL),
          c AS (SELECT a, b FROM p WHERE hamming <= 2),
          v AS (SELECT c.a, c.b, levenshtein(da.text, db.text) AS dist,
                  GREATEST(LENGTH(da.text), LENGTH(db.text)) AS max_len
                FROM c JOIN fr da ON c.a = da.doc_id JOIN fr db ON c.b = db.doc_id)
        SELECT CAST(((max_len - dist) * 10) // max_len AS INTEGER) AS sim_band, COUNT(*) AS n_pairs,
          CAST(MIN(dist) AS BIGINT) AS min_dist, CAST(MAX(dist) AS BIGINT) AS max_dist,
          CAST(SUM(dist) AS BIGINT) AS sum_dist
        FROM v GROUP BY 1 ORDER BY sim_band"""
    }
  )

  /** CDC through pure SQL end-to-end, oracle-pinned: CTAS an orders
    * subset (v1), restate a price band by UPDATE (v2), DELETE early
    * keys (v3), INSERT a late-arriving tranche (v4) — then read the
    * v1→v4 key-classified changelog with the `graft_table_changes`
    * table function ([[graft.plans.TableChanges]], the `table_changes`
    * / Iceberg-changelog shape) and flatten the old/new images. The
    * DuckDB oracle replays the SAME classification with a FULL OUTER
    * JOIN between the two states recomputed from raw parquet, so a
    * hash match pins insert/update/delete assignment AND both row
    * images — the whole CDC read path, not just row counts. */
  private val q131 = Q(
    "q131_table_changes_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q131_orders")
      s.sql(s"""CREATE TABLE $cat.dw.o AS
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q131_orders WHERE o_orderkey <= 8000""") // v1
      s.sql(s"""UPDATE $cat.dw.o SET o_totalprice = o_totalprice * 2
                WHERE o_orderkey BETWEEN 2000 AND 3000""") // v2
      s.sql(s"DELETE FROM $cat.dw.o WHERE o_orderkey <= 500") // v3
      s.sql(s"""INSERT INTO $cat.dw.o
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q131_orders WHERE o_orderkey > 8000 AND o_orderkey <= 10000""") // v4
      s.sql(s"""SELECT o_orderkey, _change_type,
                  CAST(__old.o_totalprice AS DOUBLE) AS old_price,
                  CAST(__new.o_totalprice AS DOUBLE) AS new_price
                FROM graft_table_changes('$cat.dw.o', 1, 4, 'o_orderkey')
                ORDER BY o_orderkey""")
    },
    Some("""WITH v1 AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey <= 8000),
      v4 AS (
        SELECT o_orderkey, o_orderstatus,
          CASE WHEN o_orderkey BETWEEN 2000 AND 3000 THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 10000)
      SELECT COALESCE(v1.o_orderkey, v4.o_orderkey) AS o_orderkey,
        CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
             WHEN v4.o_orderkey IS NULL THEN 'delete'
             ELSE 'update' END AS _change_type,
        CAST(v1.o_totalprice AS DOUBLE) AS old_price,
        CAST(v4.o_totalprice AS DOUBLE) AS new_price
      FROM v1 FULL OUTER JOIN v4 ON v1.o_orderkey = v4.o_orderkey
      WHERE v1.o_orderkey IS NULL OR v4.o_orderkey IS NULL
        OR v1.o_totalprice IS DISTINCT FROM v4.o_totalprice
        OR v1.o_orderstatus IS DISTINCT FROM v4.o_orderstatus
      ORDER BY o_orderkey""")
  )

  /** The manifest SQL relation end-to-end, oracle-pinned: commit
    * lineitem z-order-clustered with a two-column stats manifest, then
    * aggregate `graft_table_manifest` — per-column row totals, global
    * min/max bounds and null counts recomputed by DuckDB from the RAW
    * parquet. A hash match pins that the footer-harvested stats layer
    * tells the truth (sums of per-file rows == table rows; the hull of
    * per-file bounds == the true bounds) — the property every pruned
    * read (q102/q113) silently relies on, here asserted cross-engine
    * through the pure-SQL face. Per-FILE rows are deliberately not
    * oracled (file splits are an engine artifact); the disjoint-span
    * half lives in the spec twin (SnapshotCatalogSpec). */
  private val q132 = Q(
    "q132_manifest_relation_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      val root = s.conf.get(s"spark.sql.catalog.$cat.root")
      val st = new graft.io.SnapshotTables(s, s"$root/dw")
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      st.overwriteTable(
        graft.io.Sinks.zorderCluster(li, Seq("l_orderkey", "l_partkey"), numFiles = 16),
        "li_m", Nil, statsCols = Seq("l_orderkey", "l_partkey"))
      s.sql(s"""SELECT column,
                  SUM(rows) AS n_rows,
                  CAST(MIN(min_num) AS DOUBLE) AS lo,
                  CAST(MAX(max_num) AS DOUBLE) AS hi,
                  SUM(nulls) AS n_nulls
                FROM graft_table_manifest('$cat.dw.li_m')
                GROUP BY column ORDER BY column""")
    },
    Some("""SELECT * FROM (
        SELECT 'l_orderkey' AS "column", COUNT(*) AS n_rows,
          CAST(MIN(l_orderkey) AS DOUBLE) AS lo, CAST(MAX(l_orderkey) AS DOUBLE) AS hi,
          CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
        FROM lineitem
        UNION ALL
        SELECT 'l_partkey' AS "column", COUNT(*) AS n_rows,
          CAST(MIN(l_partkey) AS DOUBLE) AS lo, CAST(MAX(l_partkey) AS DOUBLE) AS hi,
          CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
        FROM lineitem)
      ORDER BY "column"""")
  )

  /** Merge-on-read DML end-to-end through SQL, oracle-pinned: a table
    * created with `graft.write.mode = mor` takes an append INSERT
    * (O(batch) delta), a patch DELETE and a patch UPDATE (O(changed)
    * deltas — the version directories hold only the changed rows,
    * spec-asserted in DeltaSqlSpec), then answers the final SELECT by
    * RESOLVING the chain: per-segment parquet scans combined with
    * unions and EXCEPT ALL anti-joins (plans/DeltaResolve). The DuckDB
    * oracle replays the same mutations as CASE/anti-filters over the
    * raw parquet — a hash match pins that the merge-on-read read path
    * returns byte-identical answers to the copy-on-write one (q125),
    * while writing O(delta) instead of O(table) per commit (the shape
    * Iceberg v2 row-level deletes / Delta deletion vectors take at the
    * 100 TB point; the time-travel join also pins that the pre-DML
    * version still resolves mid-chain). */
  private val q133 = Q(
    "q133_mor_dml_chain_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q133_orders")
      s.sql(s"""CREATE TABLE $cat.dw.o
                TBLPROPERTIES ('graft.write.mode'='mor')
                AS SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q133_orders WHERE o_orderkey <= 8000""") // v1 full
      s.sql(s"""INSERT INTO $cat.dw.o
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q133_orders
                WHERE o_orderkey > 8000 AND o_orderkey <= 10000""") // v2 append delta
      s.sql(s"DELETE FROM $cat.dw.o WHERE o_orderkey % 10 = 3") // v3 mor_patch
      s.sql(s"""UPDATE $cat.dw.o SET o_totalprice = o_totalprice * 2
                WHERE o_orderstatus = 'F'""") // v4 mor_patch
      s.sql(s"""SELECT o_orderstatus,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                  (SELECT COUNT(*) FROM $cat.dw.o VERSION AS OF 1) AS n_v1
                FROM $cat.dw.o
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""WITH cur AS (
        SELECT o_orderstatus,
          CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
               ELSE o_totalprice END AS o_totalprice
        FROM orders
        WHERE o_orderkey <= 10000 AND o_orderkey % 10 <> 3)
      SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 8000) AS n_v1
      FROM cur GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** MINOR COMPACTION through SQL, oracle-pinned: an append chain
    * (CTAS + two INSERT INTO fast appends) folded by `CALL
    * system.compact_deltas` into ONE equivalent delta segment — the
    * base is never rewritten (O(Σ deltas), [[graft.io.SnapshotTables
    * .compactDeltas]]); without it the chain budget's only escape is an
    * O(table) materialize, the cost cliff a streaming ingest hits at
    * 100 TB. The final SELECT audits all of it in one answer: the
    * folded table's content (hash-matched vs raw-parquet truth), the
    * `.history` kinds (v1 full + v2 v3 appends + the fold's own append
    * = 3 append-kind versions, head = the fold at v4), and VERSION AS
    * OF across the fold (v3 pre-fold still resolves through its own
    * chain). The DuckDB oracle replays the content and pins the
    * engine-fact constants. */
  private val q135 = Q(
    "q135_minor_compaction_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q135_orders")
      s.sql(s"""CREATE TABLE $cat.dw.mc
                AS SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q135_orders WHERE o_orderkey <= 6000""") // v1 full
      s.sql(s"""INSERT INTO $cat.dw.mc
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM q135_orders
                WHERE o_orderkey > 6000 AND o_orderkey <= 8000""") // v2 append
      s.sql(s"""INSERT INTO $cat.dw.mc
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM q135_orders
                WHERE o_orderkey > 8000 AND o_orderkey <= 10000""") // v3 append
      s.sql(s"CALL $cat.system.compact_deltas('dw.mc')") // v4 fold
      s.sql(s"""SELECT o_orderstatus,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                  (SELECT COUNT(*) FROM $cat.dw.mc.history WHERE kind = 'append')
                    AS append_versions,
                  (SELECT MAX(version) FROM $cat.dw.mc.history) AS head_version,
                  (SELECT kind FROM $cat.dw.mc.history WHERE is_current) AS head_kind,
                  (SELECT COUNT(*) FROM $cat.dw.mc VERSION AS OF 3) AS n_prefold
                FROM $cat.dw.mc
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        CAST(3 AS BIGINT) AS append_versions,
        CAST(4 AS INTEGER) AS head_version,
        'append' AS head_kind,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 10000) AS n_prefold
      FROM orders WHERE o_orderkey <= 10000
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** CAP OBSERVABILITY, oracle-exact (SURVEY's "no silent caps"): the
    * per-bucket audit of the LSH hot-bucket guard — which (band,
    * bucket) groups a cap of 2 drops, each with its member count and
    * the n·(n−1)/2 candidate pairs the cap saved. DuckDB recomputes
    * the same audit from the shared banded CTE chain, so a hash match
    * pins that the guard that keeps q86 safe on boilerplate corpora
    * reports EXACTLY what it costs — at 100 TB the drop report is a
    * number an operator files, never a guess. (The zero-extra-scan
    * Observation channel on the capped run itself is spec-gated in
    * DedupSpec; this is its exact-audit sibling.) */
  private val q136 = Q(
    "q136_lsh_dropped_buckets",
    (s, dir) => Dedup.lshDroppedBuckets(fixture(s, dir, "documents"), "doc_id", "text",
      numHashes = 8, bands = 4, maxBucketSize = 2),
    Some(s"""WITH ${sqlLshCtes(None)}
        SELECT band_idx, bucket, count(*) AS members,
          CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS candidate_pairs
        FROM bands GROUP BY band_idx, bucket HAVING count(*) > 2
        ORDER BY band_idx, bucket""")
  )

  /** The OBJECT-STORE-SAFE commit layout end-to-end through SQL,
    * oracle-pinned: every commit writes its data files ONCE into the
    * table's pool and the metadata CAS is the entire commit — no
    * rename anywhere (on S3-family stores rename is a server-side
    * copy, so a stage-then-rename publish would be O(data) there; this
    * is Iceberg's write-once + manifest design on the native format). CTAS, a fast
    * append and a COW delete all land as pool commits; the final
    * SELECT hash-matches the resolved content against DuckDB's replay
    * and pins the layout's engine facts: zero version-line data dirs
    * ever existed, one write-once pool dir per retained version, and
    * time travel still resolves mid-line. Zero-byte-moved publish and
    * reachability GC are spec-gated in DirectLayoutSpec. */
  private val q137 = Q(
    "q137_direct_layout_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      val root = s.conf.get(s"spark.sql.catalog.$cat.root")
      fixture(s, dir, "orders").createOrReplaceTempView("q137_orders")
      s.sql(s"""CREATE TABLE $cat.dw.d
                AS SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM q137_orders WHERE o_orderkey <= 8000""") // v1 full
      s.sql(s"""INSERT INTO $cat.dw.d
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM q137_orders
                WHERE o_orderkey > 8000 AND o_orderkey <= 10000""") // v2 append
      s.sql(s"DELETE FROM $cat.dw.d WHERE o_orderkey % 10 = 3") // v3 full (COW)
      val snapshotsEverCreated = new java.io.File(s"$root/dw/d/snapshots").exists()
      val poolDirs = Option(new java.io.File(s"$root/dw/d/data").listFiles())
        .map(_.count(_.isDirectory)).getOrElse(0)
      s.sql(s"""SELECT o_orderstatus,
                  COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                  (SELECT COUNT(*) FROM $cat.dw.d VERSION AS OF 2) AS n_v2,
                  ${if (snapshotsEverCreated) 1 else 0} AS version_line_data_dirs,
                  $poolDirs AS pool_dirs
                FROM $cat.dw.d
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey <= 10000) AS n_v2,
        0 AS version_line_data_dirs,
        3 AS pool_dirs
      FROM orders
      WHERE o_orderkey <= 10000 AND o_orderkey % 10 <> 3
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** The `.partitions` METADATA relation (Iceberg's partitions table)
    * oracle-pinned: a priority-partitioned catalog table lands in two
    * appended segments, and `<table>.partitions` reports per-partition
    * record counts aggregated ACROSS the chain — answered from parquet
    * footers in one distributed job, never a data scan. The oracle
    * recomputes the same per-partition counts from raw parquet;
    * `multi_segment` pins that every partition's file count reflects
    * both commits. MOR-delete separation and hidden-transform
    * partitions are spec-gated in SnapshotCatalogSpec. */
  private val q139 = Q(
    "q139_partitions_relation",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q139_orders")
      s.sql(s"""CREATE TABLE $cat.dw.p
                (o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING)
                PARTITIONED BY (o_orderpriority)""")
      s.sql(s"""INSERT INTO $cat.dw.p
                SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
                FROM q139_orders WHERE o_orderkey <= 8000""")
      s.sql(s"""INSERT INTO $cat.dw.p
                SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority
                FROM q139_orders WHERE o_orderkey > 8000 AND o_orderkey <= 10000""")
      s.sql(s"""SELECT partition, record_count,
                  CASE WHEN file_count >= 2 THEN 1 ELSE 0 END AS multi_segment,
                  delete_record_count
                FROM $cat.dw.p.partitions ORDER BY partition""")
    },
    Some("""SELECT 'o_orderpriority=' || o_orderpriority AS partition,
        COUNT(*) AS record_count, 1 AS multi_segment,
        CAST(0 AS BIGINT) AS delete_record_count
      FROM orders WHERE o_orderkey <= 10000
      GROUP BY o_orderpriority ORDER BY partition""")
  )

  /** CDC ACROSS ADDITIVE SCHEMA EVOLUTION, oracle-pinned to Delta
    * CDF's semantics: a table evolves with a metadata-only ADD COLUMN
    * (zero rows written), then an UPDATE fills the new column for a
    * key band; `graft_table_changes` spanning the evolution NULL-FILLS
    * the pre-evolution images instead of failing — the DuckDB oracle
    * replays exactly that (old_price literally NULL). Unchanged rows
    * (equal modulo the null-filled column) emit nothing, so the feed
    * stays change-only. The destructive half of the contract (DROP /
    * re-type stays a loud failure) is spec-gated in DeltaSqlSpec and
    * DeltaCommitsSpec. */
  private val q138 = Q(
    "q138_evolution_cdc_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q138_orders")
      s.sql(s"""CREATE TABLE $cat.dw.ev
                AS SELECT o_orderkey, o_orderstatus
                FROM q138_orders WHERE o_orderkey <= 8000""") // v1 full
      s.sql(s"ALTER TABLE $cat.dw.ev ADD COLUMN o_totalprice DOUBLE") // v2 metadata-only
      s.sql(s"""UPDATE $cat.dw.ev SET o_totalprice = o_orderkey * 1.5
                WHERE o_orderkey <= 100""") // v3 (COW)
      s.sql(s"""SELECT o_orderkey AS k, _change_type,
                  __old.o_totalprice AS old_price,
                  __new.o_totalprice AS new_price
                FROM graft_table_changes('$cat.dw.ev', 1, 3, 'o_orderkey')
                ORDER BY k""")
    },
    Some("""SELECT o_orderkey AS k, 'update' AS _change_type,
        CAST(NULL AS DOUBLE) AS old_price,
        CAST(o_orderkey * 1.5 AS DOUBLE) AS new_price
      FROM orders WHERE o_orderkey <= 100
      ORDER BY k""")
  )

  /** Data files the optimized plan of `df` would open — counts both
    * stock DSv2 scan relations and [[graft.plans.ScanPruneRule]]'s
    * substituted V1 file relations (`Dataset.inputFiles` matches
    * neither shape for snapshot-catalog tables). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        s.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.length
          case _ => 0
        }
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.inputFiles.length
          case _ => 0
        }
    }.sum

  /** MANIFEST FILE SKIPPING in SQL scan planning (X112), oracle-pinned:
    * a catalog table declares `graft.stats.columns` as a TBLPROPERTY,
    * two INSERTs land disjoint key bands as separate files, and a plain
    * SQL range predicate is answered by opening ONLY the files whose
    * manifest [min,max] intersects — Iceberg's scan planning on the
    * native format ([[graft.plans.ScanPruneRule]]). The engine facts
    * ride as columns: `files_skipped` pins that the pruned plan opened
    * strictly fewer files than the table holds, while the aggregate
    * itself hash-matches DuckDB over the raw parquet — skipping that
    * changed the answer would break the hash, skipping that never
    * happened would break `files_skipped`. Bloom-probe skipping,
    * fallbacks and the kill switch are spec-gated in ScanPruneSpec. */
  private val q140 = Q(
    "q140_sql_file_skipping",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "orders").createOrReplaceTempView("q140_orders")
      s.sql(s"""CREATE TABLE $cat.dw.f
                (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
                TBLPROPERTIES('graft.stats.columns'='o_orderkey')""")
      s.sql(s"""INSERT INTO $cat.dw.f
                SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE)
                FROM q140_orders WHERE o_orderkey <= 6000""")
      s.sql(s"""INSERT INTO $cat.dw.f
                SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE)
                FROM q140_orders WHERE o_orderkey > 6000 AND o_orderkey <= 12000""")
      val band = s"o_orderkey BETWEEN 1000 AND 2999"
      val allFiles = plannedFiles(s.table(s"$cat.dw.f"))
      val prunedFiles = plannedFiles(s.sql(s"SELECT * FROM $cat.dw.f WHERE $band"))
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
                  ${if (prunedFiles < allFiles && prunedFiles > 0) 1 else 0} AS files_skipped
                FROM $cat.dw.f WHERE $band
                GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        1 AS files_skipped
      FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** METADATA-ONLY SQL AGGREGATES (X113), oracle-pinned: a stats-
    * tracked catalog table takes two appends, and a grouping-less
    * `count(*) / count(c) / min / max` SELECT collapses to a
    * LocalRelation answered entirely from the per-file manifests —
    * Iceberg's manifest-served aggregates ([[graft.plans
    * .MetadataAggRule]]). `scanned_files` pins the zero-data-file
    * plan while the VALUES hash-match DuckDB computing the same
    * aggregates the honest way over the raw parquet — a wrong manifest
    * answer breaks the hash, a silently-kept scan breaks
    * `scanned_files`. Null accounting (count(c) = rows − covered
    * nulls) rides on l_comment being non-null and a CASE-nulled
    * column; honesty fallbacks are spec-gated in MetadataAggSpec. */
  private val q141 = Q(
    "q141_metadata_agg_sql",
    (s, dir) => {
      val cat = tempCatalog(s)
      fixture(s, dir, "lineitem").createOrReplaceTempView("q141_li")
      s.sql(s"""CREATE TABLE $cat.dw.m
                (l_orderkey BIGINT, l_quantity DOUBLE, l_shipdate DATE, maybe DOUBLE)
                TBLPROPERTIES('graft.stats.columns'='l_orderkey,l_quantity,l_shipdate,maybe')""")
      s.sql(s"""INSERT INTO $cat.dw.m
                SELECT l_orderkey, CAST(l_quantity AS DOUBLE), l_shipdate,
                       CASE WHEN l_orderkey % 3 = 0 THEN CAST(l_quantity AS DOUBLE) END
                FROM q141_li WHERE l_orderkey <= 7000""")
      s.sql(s"""INSERT INTO $cat.dw.m
                SELECT l_orderkey, CAST(l_quantity AS DOUBLE), l_shipdate,
                       CASE WHEN l_orderkey % 3 = 0 THEN CAST(l_quantity AS DOUBLE) END
                FROM q141_li WHERE l_orderkey > 7000""")
      val agg = s.sql(s"""SELECT count(*) AS n, count(maybe) AS n_maybe,
                  min(l_orderkey) AS mn_k, max(l_orderkey) AS mx_k,
                  min(l_quantity) AS mn_q, max(l_quantity) AS mx_q,
                  min(l_shipdate) AS mn_d, max(l_shipdate) AS mx_d
                FROM $cat.dw.m""")
      val scanned = plannedFiles(agg)
      agg.selectExpr("*", s"$scanned AS scanned_files")
    },
    Some("""SELECT count(*) AS n, count(CASE WHEN l_orderkey % 3 = 0 THEN l_quantity END) AS n_maybe,
        min(l_orderkey) AS mn_k, max(l_orderkey) AS mx_k,
        CAST(min(l_quantity) AS DOUBLE) AS mn_q, CAST(max(l_quantity) AS DOUBLE) AS mx_q,
        min(l_shipdate) AS mn_d, max(l_shipdate) AS mx_d,
        0 AS scanned_files
      FROM lineitem""")
  )

  /** SCHEMA EVOLUTION across the Iceberg bridge under the gate (X125):
    * a metadata-only RENAME + ADD COLUMN ([[graft.io.IcebergEvolve]],
    * the spec's new-schema-id commit) over an exported table whose
    * data files are id-LESS — so the read exercises the
    * `schema.name-mapping.default` projection rule the evolve commit
    * maintains: the renamed column resolves through its historical
    * name, the added column reads as typed NULLs. The oracle replays
    * the rename as a plain alias over the raw parquet (and the added
    * column as NULL), so a hash match pins that evolution is
    * metadata-only — content identical, names evolved. */
  private val q152 = Q(
    "q152_iceberg_evolution",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q152-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") <= 10000), "li")
      t.append(li.filter(col("l_orderkey") > 10000), "li")
      val dest = java.nio.file.Files.createTempDirectory("q152-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergEvolve.renameColumn(s, dest, "l_quantity", "qty")
      graft.io.IcebergEvolve.addColumn(s, dest, "audit_note", "string")
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        COUNT(audit_note) AS n_note
        FROM graft_iceberg_scan('$dest')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(0 AS BIGINT) AS n_note
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** APPEND COMMITS TO A FOREIGN ICEBERG TABLE under the gate (X126,
    * the bridge's fourth quadrant): half of lineitem is exported as an
    * Iceberg v2 table, the other half lands through
    * [[graft.io.IcebergAppend]] — a spec-shaped snapshot commit (new
    * manifest + manifest list + metadata version, sequence-number
    * inheritance, field ids in the appended footers) — and the whole
    * table reads back through `graft_iceberg_scan`. The oracle
    * aggregates the raw parquet: a hash match pins that the foreign
    * append is exactly set union, losing and duplicating nothing. */
  private val q153 = Q(
    "q153_iceberg_append",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q153-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q153-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 2 =!= 0))
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_iceberg_scan('$dest')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** STREAMING APPEND INTO A FOREIGN ICEBERG TABLE under the gate
    * (X127, the streaming face of X126): a real 3-file parquet stream
    * (maxFilesPerTrigger=1 → 3 scripted micro-batches of purchases)
    * lands through `Streams.icebergAppendSink` into an EMPTY exported
    * Iceberg v2 table — each batch one spec-shaped snapshot with a
    * checkpoint-scoped txn marker in its summary (exactly-once across
    * replays) — and the final table aggregates through
    * `graft_iceberg_scan`. DuckDB replays the whole stream as one
    * batch query. */
  private val q154 = Q(
    "q154_streaming_iceberg_append",
    (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("q154-src").toString
      fixture(s, dir, "events").repartition(3).write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("value").cast("double").as("value"))
      val root = java.nio.file.Files.createTempDirectory("q154-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(stream.sparkSession.read.parquet(src)
        .select(col("event_id"), col("user_id"), col("value").cast("double").as("value"))
        .limit(0), "ev")
      val dest = java.nio.file.Files.createTempDirectory("q154-ice").toString
      graft.io.IcebergExport.export(t, "ev", dest)
      val ck = java.nio.file.Files.createTempDirectory("q154-ck").toString + "/ck"
      graft.streaming.Streams.icebergAppendSink(stream, dest, ck, availableNow = true)
        .awaitTermination()
      s.sql(s"""SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM graft_iceberg_scan('$dest')
        GROUP BY user_id ORDER BY user_id""")
    },
    Some("""SELECT user_id, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id ORDER BY user_id""")
  )

  /** FOREIGN-TABLE MAINTENANCE under the gate (X128): the full debt
    * lifecycle on one Iceberg v2 table — MOR equality deletes from the
    * export, re-adds through the foreign append (later sequence, so
    * the deletes must not touch them), then `compact` (REPLACE
    * snapshot folding the deletes into fresh files) and
    * `expireSnapshots(keepLast=1, removeOrphans=true)` (old data,
    * delete files and manifests physically removed). The final
    * aggregate through `graft_iceberg_scan` must still be hash-exact
    * vs DuckDB's plain replay — maintenance must be content-neutral
    * while the file surface shrinks to the compacted set. */
  private val q155 = Q(
    "q155_iceberg_maintenance",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q155-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord, "ord")
      t.deleteKeysMor("ord", ord.filter(col("o_orderkey") % 89 === 0).select("o_orderkey"))
      val dest = java.nio.file.Files.createTempDirectory("q155-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      graft.io.IcebergAppend.append(s, dest,
        ord.filter(col("o_orderkey") % 89 === 0).withColumn("o_totalprice", lit(0.5)))
      graft.io.IcebergMaintenance.compact(s, dest, targetFiles = 4)
      graft.io.IcebergMaintenance.expireSnapshots(s, dest, keepLast = 1, removeOrphans = true)
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 89 = 0 THEN 0.5
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** PARTITIONED foreign append under the gate (X126b — the
    * reference's flagship table shape is `PARTITIONED BY
    * (sys_file_date)`, `job_silver.py:66-88`): half of orders exported
    * as an IDENTITY-partitioned Iceberg layout, the other half landed
    * through the foreign append — rows re-land IN their partitions
    * (`partitionBy` over the spec's source column, typed partition
    * structs in the manifest entries) — and the per-partition
    * aggregate through `graft_iceberg_scan` must be hash-exact vs the
    * raw parquet. */
  private val q156 = Q(
    "q156_iceberg_partitioned_append",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q156-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord",
        partitionCols = Seq("o_orderstatus"))
      val dest = java.nio.file.Files.createTempDirectory("q156-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      graft.io.IcebergAppend.append(s, dest, ord.filter(col("o_orderkey") % 2 =!= 0))
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** NAMED REFS on foreign tables under the gate (the refs half of
    * X125): half of lineitem exported, TAGGED (`IcebergEvolve
    * .createTag`, a metadata-only commit), then the other half
    * appended — and `graft_iceberg_scan('/dir', 'tag')` must still
    * aggregate to exactly the PRE-append content (the tag is an
    * immutable pointer the later append cannot move), while 'main'
    * sees everything. The oracle replays both sides from the raw
    * parquet in one query. */
  private val q157 = Q(
    "q157_iceberg_ref_read",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q157-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q157-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergEvolve.createTag(s, dest, "before_load")
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 2 =!= 0))
      s.sql(s"""SELECT tagged.l_returnflag,
        tagged.n AS n_tagged, head.n AS n_head,
        tagged.sum_qty AS qty_tagged, head.sum_qty AS qty_head
        FROM (SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM graft_iceberg_scan('$dest', 'before_load') GROUP BY l_returnflag) tagged
        JOIN (SELECT l_returnflag, COUNT(*) AS n,
            CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM graft_iceberg_scan('$dest', 'main') GROUP BY l_returnflag) head
        USING (l_returnflag)
        ORDER BY l_returnflag""")
    },
    Some("""SELECT t.l_returnflag, t.n AS n_tagged, h.n AS n_head,
      t.sum_qty AS qty_tagged, h.sum_qty AS qty_head
      FROM (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY l_returnflag) t
      JOIN (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag) h
      USING (l_returnflag)
      ORDER BY l_returnflag""")
  )

  /** ROW-LEVEL DML ON A FOREIGN ICEBERG TABLE under the gate (X129 —
    * the last interop quadrant: the reference's tables are `USING
    * ICEBERG`, job_silver.py:66-88, and its deployment's Iceberg
    * runtime does DELETE/UPDATE on them): orders exported as an
    * Iceberg v2 table, then [[graft.io.IcebergDml.deleteWhere]] (a
    * spec-shaped equality-delete + `delete` snapshot, full-column
    * equality = exact predicate semantics) and [[graft.io.IcebergDml
    * .update]] (pre-image delete + post-image data manifest in ONE
    * `overwrite` snapshot). The aggregate through `graft_iceberg_scan`
    * must be hash-exact vs DuckDB replaying the same DML as
    * WHERE/CASE over the raw parquet. */
  private val q158 = Q(
    "q158_iceberg_foreign_dml",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q158-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord, "ord")
      val dest = java.nio.file.Files.createTempDirectory("q158-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      graft.io.IcebergDml.deleteWhere(s, dest, "o_orderkey % 7 = 0")
      graft.io.IcebergDml.update(s, dest, "o_orderkey % 5 = 0",
        Map("o_totalprice" -> "0.5"))
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0 THEN 0.5
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE NOT (o_orderkey % 7 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** WRITE-AUDIT-PUBLISH ON A FOREIGN ICEBERG TABLE under the gate
    * (X130 — writable branches, matching graft's own WAP surface
    * X65/q114): half of lineitem exported, a BRANCH forked
    * ([[graft.io.IcebergEvolve.createBranch]]), the load (append +
    * row-level delete) committed ONTO THE BRANCH — main must keep
    * reading the pre-load content (captured BEFORE the publish) —
    * then [[graft.io.IcebergEvolve.fastForward]] publishes and main
    * reads the audited world. The oracle replays both sides from the
    * raw parquet. */
  private val q159 = Q(
    "q159_iceberg_branch_wap",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q159-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q159-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergEvolve.createBranch(s, dest, "load")
      graft.io.IcebergAppend.append(s, dest,
        li.filter(col("l_orderkey") % 2 =!= 0), branch = "load")
      graft.io.IcebergDml.deleteWhere(s, dest, "l_quantity < 5", branch = "load")
      // main BEFORE publish: scan planning pins the file set at
      // analysis time, so this frame is the pre-publish head even
      // though it executes after the fast-forward below
      val pre = s.sql(s"""SELECT l_returnflag, COUNT(*) AS n_pre
        FROM graft_iceberg_scan('$dest') GROUP BY l_returnflag""")
      graft.io.IcebergEvolve.fastForward(s, dest, "load")
      val post = s.sql(s"""SELECT l_returnflag, COUNT(*) AS n_post,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_post
        FROM graft_iceberg_scan('$dest') GROUP BY l_returnflag""")
      pre.join(post, "l_returnflag").orderBy("l_returnflag")
    },
    Some("""SELECT p.l_returnflag, p.n_pre, q.n_post, q.qty_post
      FROM (SELECT l_returnflag, COUNT(*) AS n_pre FROM lineitem
        WHERE l_orderkey % 2 = 0 GROUP BY l_returnflag) p
      JOIN (SELECT l_returnflag, COUNT(*) AS n_post,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_post
        FROM lineitem WHERE NOT (l_quantity < 5) GROUP BY l_returnflag) q
      USING (l_returnflag)
      ORDER BY p.l_returnflag""")
  )

  /** FOREIGN WAREHOUSE CATALOG MOUNT under the gate (X131 — the
    * 3-level-name porting seam the r15 verdict ranked #2: the
    * reference's entire SQL surface is `silver.dw.tab_brewery`-style
    * names, `job_gold.py:71-88`): half of orders exported into a
    * warehouse directory, the catalog mounted
    * (`spark.sql.catalog.<n> = IcebergWarehouseCatalog`), then the
    * WHOLE lifecycle through pure 3-level-name SQL — `INSERT INTO` the
    * other half (IcebergAppend commit), `DELETE FROM ... WHERE`
    * (IcebergDml equality deletes), `UPDATE ... SET` (one overwrite
    * snapshot) — and the final aggregate read back BY NAME. The oracle
    * replays the same DML as WHERE/CASE over the raw parquet. */
  private val q160 = Q(
    "q160_iceberg_catalog_mount",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q160-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
      val wh = java.nio.file.Files.createTempDirectory("q160-wh").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
      graft.io.IcebergExport.export(t, "ord", s"$wh/dw/orders")
      s.conf.set("spark.sql.catalog.q160ice",
        classOf[graft.catalog.IcebergWarehouseCatalog].getName)
      s.conf.set("spark.sql.catalog.q160ice.warehouse", wh)
      ord.filter(col("o_orderkey") % 2 =!= 0).createOrReplaceTempView("q160_odd")
      s.sql("INSERT INTO q160ice.dw.orders SELECT * FROM q160_odd")
      s.sql("DELETE FROM q160ice.dw.orders WHERE o_orderkey % 7 = 0")
      s.sql("UPDATE q160ice.dw.orders SET o_totalprice = 0.5 WHERE o_orderkey % 5 = 0")
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM q160ice.dw.orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 5 = 0 THEN 0.5
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE NOT (o_orderkey % 7 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** MERGE INTO A FOREIGN ICEBERG TABLE (X132 — the canonical keyed
    * upsert, Iceberg's own MOR merge commit): orders mounted through
    * the warehouse catalog, then a SQL `MERGE INTO ... WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` whose source
    * repriceS half the even keys AND introduces odd keys — claimed by
    * [[graft.plans.IcebergForeignRule]] onto [[graft.io.IcebergDml
    * .upsert]]: ONE overwrite snapshot (equality delete on the source
    * keys + the source as a data manifest), the table itself never
    * read or rewritten. Oracle: DuckDB replays the merge as
    * anti-join ∪ source. */
  private val q161 = Q(
    "q161_iceberg_foreign_merge",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q161-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
      val wh = java.nio.file.Files.createTempDirectory("q161-wh").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
      graft.io.IcebergExport.export(t, "ord", s"$wh/dw/orders")
      s.conf.set("spark.sql.catalog.q161ice",
        classOf[graft.catalog.IcebergWarehouseCatalog].getName)
      s.conf.set("spark.sql.catalog.q161ice.warehouse", wh)
      // source: re-price the %10 keys (updates) + all odd keys (inserts)
      ord.filter(col("o_orderkey") % 10 === 0).withColumn("o_totalprice", lit(1.25))
        .unionByName(ord.filter(col("o_orderkey") % 2 =!= 0))
        .createOrReplaceTempView("q161_src")
      s.sql("""MERGE INTO q161ice.dw.orders t USING q161_src s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      s.sql("""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM q161ice.dw.orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0 THEN 1.25
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** STREAMING KEYED UPSERT INTO A FOREIGN ICEBERG TABLE (X133 — the
    * merge twin of q154's append sink): a real 3-file parquet stream of
    * purchases upserts BY USER into an exported Iceberg table seeded
    * with zero-valued rows for half the users — each micro-batch ONE
    * overwrite snapshot (equality delete on the batch's keys + batch
    * data manifest) with an expiry-proof txn marker; in-batch
    * conflicts resolve max_by(event_id), so the final table holds each
    * user's LATEST purchase by event id. DuckDB replays the whole
    * stream as one window query. */
  private val q162 = Q(
    "q162_streaming_iceberg_merge",
    (s, dir) => {
      val src = java.nio.file.Files.createTempDirectory("q162-src").toString
      // key-partitioned files: each user's events land in ONE
      // micro-batch, so per-batch max_by(event_id) IS the global
      // latest (cross-batch, an upsert is last-WRITER-wins by design)
      fixture(s, dir, "events").repartition(3, col("user_id"))
        .write.mode("overwrite").parquet(src)
      val schema = s.read.parquet(src).schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("value").cast("double").as("value"))
      val root = java.nio.file.Files.createTempDirectory("q162-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val seed = fixture(s, dir, "events").filter(col("event_type") === "purchase")
        .filter(col("user_id") % 2 === 0)
        .select(col("user_id"), lit(-1L).as("event_id"), lit(0.0).as("value"))
        .distinct()
      t.overwriteTable(seed, "ev")
      val dest = java.nio.file.Files.createTempDirectory("q162-ice").toString
      graft.io.IcebergExport.export(t, "ev", dest)
      val ck = java.nio.file.Files.createTempDirectory("q162-ck").toString + "/ck"
      graft.streaming.Streams.icebergMergeSink(stream, dest, Seq("user_id"), ck,
        orderCol = Some("event_id"), availableNow = true)
        .awaitTermination()
      s.sql(s"""SELECT user_id, event_id,
        CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
        FROM graft_iceberg_scan('$dest')
        ORDER BY user_id""")
    },
    Some("""WITH latest AS (
        SELECT user_id, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'purchase')
      SELECT user_id, event_id,
        CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
      FROM latest WHERE rn = 1
      ORDER BY user_id""")
  )

  /** Metadata-table audit AFTER row-level DML (the q150 twin over
    * X129's commits): a DML'd foreign table carries all THREE content
    * classes — data (0), POSITION deletes (1, the r16 strategy), and
    * EQUALITY deletes (2) — and `graft_iceberg_files` must sum each
    * class's record counts from the MANIFESTS alone (the driver never
    * opens a data file). DuckDB recomputes the totals from the raw
    * rows: equality rows = the %7 matches (full-row distinct = row
    * count, orders are key-unique), position rows = the SURVIVING
    * high-price copies (the equality delete landed first, so %7 rows
    * are not re-addressed). */
  private val q163 = Q(
    "q163_iceberg_files_after_dml",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q163-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord, "ord")
      val dest = java.nio.file.Files.createTempDirectory("q163-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      graft.io.IcebergDml.deleteWhere(s, dest, "o_orderkey % 7 = 0")
      graft.io.IcebergDml.deleteWhere(s, dest, "o_totalprice > 200000.0",
        strategy = "position")
      s.sql(s"""SELECT content, CAST(SUM(record_count) AS BIGINT) AS rows
        FROM graft_iceberg_files('$dest') GROUP BY content ORDER BY content""")
    },
    Some("""SELECT 0 AS content, (SELECT COUNT(*) FROM orders) AS rows
      UNION ALL SELECT 1,
        (SELECT COUNT(*) FROM orders
         WHERE o_totalprice > 200000.0 AND NOT (o_orderkey % 7 = 0))
      UNION ALL SELECT 2,
        (SELECT COUNT(*) FROM orders WHERE o_orderkey % 7 = 0)
      ORDER BY content""")
  )

  /** BUCKETED CO-LOCATED JOIN under the gate (X35's oracle face — the
    * no-Exchange plan property stays pinned by SinksSpec; this row
    * pins that bucketing never changes ANSWERS): orders and customer
    * land as bucketed managed tables (same bucket count, hash on the
    * join keys) and the fact⋈dim aggregate over them must be
    * hash-exact vs DuckDB's plain join of the raw parquet. */
  private val q164 = Q(
    "q164_bucketed_join",
    (s, dir) => {
      graft.io.Sinks.bucketedTable(
        fixture(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("o_totalprice")),
        "q164_ord_b", Seq("o_custkey"), numBuckets = 8, sortCols = Seq("o_custkey"))
      graft.io.Sinks.bucketedTable(
        fixture(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
        "q164_cust_b", Seq("c_custkey"), numBuckets = 8, sortCols = Seq("c_custkey"))
      s.sql("""SELECT c.c_mktsegment, COUNT(*) AS n,
        CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM q164_ord_b o JOIN q164_cust_b c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
    },
    Some("""SELECT c.c_mktsegment, COUNT(*) AS n,
      CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""")
  )

  /** `.refs` METADATA TABLE for foreign layouts under the gate (the
    * third metadata twin after `.files`/`.snapshots` — Iceberg's refs
    * table): a tag pinned at the export head, a branch forked there
    * and ADVANCED by a branch append, main advanced by a plain append
    * — `graft_iceberg_refs` must report all three pins exactly.
    * Snapshot ids are deterministic (the export assigns version
    * numbers; appends take max+1), so the oracle is literal. */
  private val q165 = Q(
    "q165_iceberg_refs_table",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q165-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q165-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergEvolve.createTag(s, dest, "v1_tag")
      graft.io.IcebergEvolve.createBranch(s, dest, "load")
      graft.io.IcebergAppend.append(s, dest,
        li.filter(col("l_orderkey") % 4 === 1), branch = "load")
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 4 === 3))
      s.sql(s"""SELECT name, type, snapshot_id
        FROM graft_iceberg_refs('$dest') ORDER BY name""")
    },
    Some("""SELECT * FROM (VALUES
        ('load', 'branch', CAST(2 AS BIGINT)),
        ('main', 'branch', CAST(3 AS BIGINT)),
        ('v1_tag', 'tag', CAST(1 AS BIGINT)))
      AS t(name, type, snapshot_id) ORDER BY name""")
  )

  /** INCREMENTAL READ OF A FOREIGN ICEBERG TABLE (X134 — the read-side
    * twin of the r16 sinks, the r16 verdict's #1 ask: the reference's
    * whole pipeline is daily incremental consumption of Iceberg
    * tables, job_gold.py:71-88): even lineitem keys exported (snap 1),
    * the %4==1 keys appended (snap 2), the table COMPACTED (snap 3, a
    * `replace` the incremental view must SKIP — original files, no
    * duplicates), the %4==3 keys appended (snap 4). The aggregate over
    * `graft_iceberg_appends('/dir', 1)` must be exactly the ODD keys —
    * hash-exact vs DuckDB filtering the raw parquet. */
  private val q166 = Q(
    "q166_iceberg_incremental_read",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q166-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q166-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 4 === 1))
      graft.io.IcebergMaintenance.compact(s, dest) // replace: skipped by the range
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 4 === 3))
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_iceberg_appends('$dest', 1)
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey % 2 = 1
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** STREAMING SOURCE OVER A FOREIGN ICEBERG TABLE under the gate
    * (X134's push face, `format("graft-iceberg-appends")`): the same
    * export-append-append lineage consumed from `earliest` with
    * `Trigger.AvailableNow` into a parquet landing (one micro-batch
    * per snapshot, `maxSnapshotsPerBatch=1`), and the landing must
    * aggregate to exactly the WHOLE table — hash-exact vs DuckDB over
    * the raw parquet. The per-snapshot `_snapshot_id` stamp is summed
    * into the result so batch boundaries are part of the contract. */
  private val q166b = Q(
    "q166b_streaming_iceberg_source",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q166b-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q166b-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 2 =!= 0))
      val land = java.nio.file.Files.createTempDirectory("q166b-land").toString + "/out"
      val ck = java.nio.file.Files.createTempDirectory("q166b-ck").toString + "/ck"
      val stream = s.readStream.format("graft-iceberg-appends")
        .option("dir", dest).option("startingSnapshot", "earliest")
        .option("maxSnapshotsPerBatch", "1").load()
      graft.streaming.Streams.availableNowTo(stream, land, ck).awaitTermination()
      s.read.parquet(land).createOrReplaceTempView("q166b_landed")
      s.sql("""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS snap_weight,
        CAST(SUM(_snapshot_id) AS BIGINT) AS snap_sum
        FROM q166b_landed
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    // even keys landed in snapshot 1, odd keys in snapshot 2 — DuckDB
    // replays the stamp arithmetic from the raw rows
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS snap_weight,
      CAST(SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 2 END) AS BIGINT) AS snap_sum
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** AVRO DATA FILES IN A FOREIGN ICEBERG TABLE (X135 — the spec
    * allows `file_format=AVRO`; Flink-style writers produce it; the
    * bridge read refused it until r17): even orders exported as
    * parquet (snap 1), the ODD orders landed as a REAL Avro
    * object-container data file (Iceberg's avro mapping: field-id
    * props, logical types) and adopted by reference via
    * [[graft.io.IcebergAppend.addFiles]] (snap 2 — the add_files
    * shape), then an equality DELETE whose keys hit BOTH formats.
    * The aggregate over `graft_iceberg_scan` must be hash-exact vs
    * DuckDB replaying the DML over the raw parquet. */
  private val q167 = Q(
    "q167_iceberg_avro_files",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q167-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
      val dest = java.nio.file.Files.createTempDirectory("q167-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      val avroPath = java.nio.file.Files.createTempDirectory("q167-avro").toString + "/odds.avro"
      graft.io.IcebergAvroData.writeDataFile(s, ord.filter(col("o_orderkey") % 2 =!= 0),
        avroPath, Map("o_orderkey" -> 1, "o_orderstatus" -> 2, "o_totalprice" -> 3))
      graft.io.IcebergAppend.addFiles(s, dest, Seq(avroPath), format = "AVRO")
      graft.io.IcebergDml.deleteWhere(s, dest, "o_orderkey % 7 = 0")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE NOT (o_orderkey % 7 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** `.partitions` METADATA TABLE for foreign layouts under the gate
    * (completes the metadata QUARTET after .files/.snapshots/.refs —
    * Iceberg's partitions table): even orders exported
    * identity-PARTITIONED by status (snap 1), the odds landed by a
    * foreign append INTO their partitions (snap 2), then an equality
    * DELETE (snap 3 — delete files are not attributed to partitions;
    * the counts are the manifests', pre-MOR). One row per live
    * partition value with the manifest record-count sum — the oracle
    * recomputes per-status totals from the raw rows. file_count is
    * projected away (file splits depend on write parallelism). */
  private val q168 = Q(
    "q168_iceberg_partitions_table",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q168-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord",
        partitionCols = Seq("o_orderstatus"))
      val dest = java.nio.file.Files.createTempDirectory("q168-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      graft.io.IcebergAppend.append(s, dest, ord.filter(col("o_orderkey") % 2 =!= 0))
      graft.io.IcebergDml.deleteWhere(s, dest, "o_orderkey % 7 = 0")
      s.sql(s"""SELECT partition, CAST(record_count AS BIGINT) AS rows
        FROM graft_iceberg_partitions('$dest') ORDER BY partition""")
    },
    Some("""SELECT 'o_orderstatus=' || o_orderstatus AS partition,
      COUNT(*) AS rows
      FROM orders GROUP BY o_orderstatus ORDER BY partition""")
  )

  /** CROSS-TABLE ATOMIC PUBLISH OVER A FOREIGN WAREHOUSE (X136 — the
    * Nessie capability on tables graft did NOT write, q128's twin:
    * the reference registers its `nessie` catalog so silver+gold land
    * as one commit, datalake_gold_spark_dag.py:181-186): silver
    * lineitem and its gold aggregate exported as Iceberg tables and
    * mounted with `commitlog`; a coordinated restatement stages on
    * FOREIGN WAP branches (X130) and [[graft.io.IcebergLakeCommits
    * .publishBranches]] fast-forwards both + flips ONE
    * [[graft.io.CommitLog]] commit;
    * then a POISON append lands on silver's table line WITHOUT being
    * published. The final 3-part-name SQL join of stored gold vs gold
    * recomputed from silver hash-matches only if (a) both tables
    * resolve from the same log commit and (b) the unpublished poison
    * is invisible to SQL readers. */
  private val q169 = Q(
    "q169_iceberg_lake_publish",
    (s, dir) => {
      val cat = "gice" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val wh = java.nio.file.Files.createTempDirectory(s"q169-wh").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
      val logDir = java.nio.file.Files.createTempDirectory("q169-log").toString
      val liDir = s"$wh/dw/li"; val aggDir = s"$wh/dw/li_agg"
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      val root = java.nio.file.Files.createTempDirectory("q169-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(li.filter(col("l_orderkey") <= 5000), "li")
      graft.io.IcebergExport.export(t, "li", liDir)
      t.overwriteTable(agg(t.read("li")), "li_agg")
      graft.io.IcebergExport.export(t, "li_agg", aggDir)
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.catalog.IcebergWarehouseCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      s.conf.set(s"spark.sql.catalog.$cat.commitlog", logDir)
      val lake = new graft.io.IcebergLakeCommits(s, logDir)
      lake.publish(Seq(liDir, aggDir))
      // coordinated restatement staged on FOREIGN WAP branches,
      // published as ONE log commit
      graft.io.IcebergEvolve.createBranch(s, liDir, "wap")
      graft.io.IcebergEvolve.createBranch(s, aggDir, "wap")
      val restated = li.filter(col("l_orderkey") <= 6000)
        .withColumn("l_quantity",
          when(col("l_orderkey").between(1000, 2000), col("l_quantity") + 5)
            .otherwise(col("l_quantity")))
      graft.io.IcebergAppend.overwrite(s, liDir, restated, branch = "wap")
      graft.io.IcebergAppend.overwrite(s, aggDir,
        agg(graft.io.IcebergImport.readRef(s, liDir, "wap")), branch = "wap")
      lake.publishBranches(Seq((liDir, "wap"), (aggDir, "wap")))
      // poison: committed to silver's TABLE LINE, never published — a
      // governance failure would shift every silver-side count below
      graft.io.IcebergAppend.append(s, liDir, li.filter(col("l_orderkey") <= 100))
      s.sql(s"""SELECT g.l_returnflag, g.n AS n_gold, g.sum_qty AS sum_qty_gold,
                       c.n AS n_silver, c.sum_qty AS sum_qty_silver
                FROM $cat.dw.li_agg g
                JOIN (SELECT l_returnflag, COUNT(*) AS n,
                        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                      FROM $cat.dw.li GROUP BY l_returnflag) c
                  ON g.l_returnflag = c.l_returnflag
                ORDER BY g.l_returnflag""")
    },
    Some("""WITH fin AS (
        SELECT l_returnflag,
          CASE WHEN l_orderkey BETWEEN 1000 AND 2000 THEN l_quantity + 5
               ELSE l_quantity END AS q
        FROM lineitem WHERE l_orderkey <= 6000),
      agg AS (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sq
        FROM fin GROUP BY l_returnflag)
      SELECT l_returnflag, n AS n_gold, sq AS sum_qty_gold,
        n AS n_silver, sq AS sum_qty_silver
      FROM agg ORDER BY l_returnflag""")
  )

  /** ORC DATA FILES IN A FOREIGN ICEBERG TABLE (X137 — the last
    * spec-legal data format the bridge refused; Spark's native ORC
    * reader keeps this path columnar, with `iceberg.id` attributes
    * driving the by-id rename projection): odd orders landed as a REAL
    * ORC data file with id attributes and adopted via addFiles, then
    * an equality DELETE hitting both formats AND a post-landing column
    * RENAME (ids must keep resolving the ORC columns). Hash-exact vs
    * DuckDB replaying the DML over the raw parquet. */
  private val q170 = Q(
    "q170_iceberg_orc_files",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q170-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
      val dest = java.nio.file.Files.createTempDirectory("q170-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      val orcPath = java.nio.file.Files.createTempDirectory("q170-orc").toString + "/odds.orc"
      graft.io.IcebergOrcData.writeDataFile(s, ord.filter(col("o_orderkey") % 2 =!= 0),
        orcPath, Map("o_orderkey" -> 1, "o_orderstatus" -> 2, "o_totalprice" -> 3))
      graft.io.IcebergAppend.addFiles(s, dest, Seq(orcPath), format = "ORC")
      graft.io.IcebergDml.deleteWhere(s, dest, "o_orderkey % 7 = 0")
      graft.io.IcebergEvolve.renameColumn(s, dest, "o_totalprice", "price")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE NOT (o_orderkey % 7 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** CHANGELOG (CDC) READ OF A FOREIGN ICEBERG TABLE (X138 — the r17
    * verdict's #1 missing item: `appendsBetween` refuses any range
    * containing a DML snapshot, but the reference's tables take
    * overwrites every run, job_silver.py:174-178): even lineitem keys
    * exported (snap 1), the %4==1 keys appended (snap 2), a MOR
    * DELETE of the %3==0 keys (snap 3 — position-delete files, the
    * range shape the appends face dies on), the %4==3 keys appended
    * (snap 4). `graft_iceberg_changes('/dir', 1)` must emit the two
    * appends' rows as `insert` and exactly the rows the DELETE
    * removed — rows ALIVE at snap 2 matching the predicate — as
    * `delete`, each under the snapshot's commit stamp. DuckDB replays
    * the per-change-type aggregate from the raw parquet. */
  private val q171 = Q(
    "q171_iceberg_changelog_read",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q171-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q171-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 4 === 1))
      graft.io.IcebergDml.deleteWhere(s, dest, "l_orderkey % 3 = 0")
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 4 === 3))
      s.sql(s"""SELECT _change_type, l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_iceberg_changes('$dest', 1)
        GROUP BY _change_type, l_returnflag ORDER BY _change_type, l_returnflag""")
    },
    // inserts: every odd key (appended after snap 1). deletes: rows
    // alive at snap 2 (evens + %4==1) hit by the %3==0 predicate.
    Some("""SELECT * FROM (
        SELECT 'delete' AS _change_type, l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        WHERE (l_orderkey % 2 = 0 OR l_orderkey % 4 = 1) AND l_orderkey % 3 = 0
        GROUP BY l_returnflag
        UNION ALL
        SELECT 'insert' AS _change_type, l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem WHERE l_orderkey % 2 = 1
        GROUP BY l_returnflag
      ) ORDER BY _change_type, l_returnflag""")
  )

  /** HTTP-MOUNTED FOREIGN CATALOG (X139 — the URI mount, the r17
    * verdict's #3: the reference registers its catalog by URI,
    * `datalake_gold_spark_dag.py:181-186`; a shared-filesystem commit
    * log is not how engines mount a lake): silver+gold exported under
    * one warehouse, the lake's commit log served over the
    * Nessie-v2-shaped loopback wire ([[graft.io.NessieServer]]),
    * the catalog mounted with `spark.sql.catalog.<n>.uri=` — then a
    * coordinated restatement published OVER THE WIRE (CAS commit) and
    * a POISON append landed on silver's table line unpublished. The
    * 3-part-name gold-vs-recomputed join hash-matches only if the SQL
    * reads resolve the wire-pinned snapshots (poison invisible, both
    * tables from one commit). */
  private val q172 = Q(
    "q172_iceberg_http_catalog",
    (s, dir) => {
      val cat = "hice" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val wh = java.nio.file.Files.createTempDirectory(s"q172-wh").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
      val logDir = java.nio.file.Files.createTempDirectory("q172-log").toString
      val liDir = s"$wh/dw/li"; val aggDir = s"$wh/dw/li_agg"
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      def agg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      val root = java.nio.file.Files.createTempDirectory("q172-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(li.filter(col("l_orderkey") <= 5000), "li")
      graft.io.IcebergExport.export(t, "li", liDir)
      t.overwriteTable(agg(t.read("li")), "li_agg")
      graft.io.IcebergExport.export(t, "li_agg", aggDir)
      val lake = new graft.io.IcebergLakeCommits(s, logDir)
      val srv = new graft.io.IcebergLakeHttpServer(lake).start()
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.catalog.IcebergWarehouseCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.conf.set(s"spark.sql.catalog.$cat.uri", srv.url)
        val remote = new graft.io.RemoteIcebergLake(srv.url)
        remote.publish(s, Seq(liDir, aggDir))
        // restatement committed per table, then published over the
        // wire as ONE CAS commit
        val restated = li.filter(col("l_orderkey") <= 6000)
          .withColumn("l_quantity",
            when(col("l_orderkey").between(1000, 2000), col("l_quantity") + 5)
              .otherwise(col("l_quantity")))
        graft.io.IcebergAppend.overwrite(s, liDir, restated)
        graft.io.IcebergAppend.overwrite(s, aggDir,
          agg(graft.io.IcebergImport.read(s, liDir)))
        remote.publish(s, Seq(liDir, aggDir))
        // poison: committed to silver's TABLE LINE, never published
        graft.io.IcebergAppend.append(s, liDir, li.filter(col("l_orderkey") <= 100))
        // analysis resolves the wire pins HERE; the scan itself reads
        // shared storage, so the server can stop once the plan exists
        s.sql(s"""SELECT g.l_returnflag, g.n AS n_gold, g.sum_qty AS sum_qty_gold,
                         c.n AS n_silver, c.sum_qty AS sum_qty_silver
                  FROM $cat.dw.li_agg g
                  JOIN (SELECT l_returnflag, COUNT(*) AS n,
                          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
                        FROM $cat.dw.li GROUP BY l_returnflag) c
                    ON g.l_returnflag = c.l_returnflag
                  ORDER BY g.l_returnflag""")
      } finally srv.stop()
    },
    Some("""WITH fin AS (
        SELECT l_returnflag,
          CASE WHEN l_orderkey BETWEEN 1000 AND 2000 THEN l_quantity + 5
               ELSE l_quantity END AS q
        FROM lineitem WHERE l_orderkey <= 6000),
      agg AS (SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(q AS DECIMAL(18,2))) AS DOUBLE) AS sq
        FROM fin GROUP BY l_returnflag)
      SELECT l_returnflag, n AS n_gold, sq AS sum_qty_gold,
        n AS n_silver, sq AS sum_qty_silver
      FROM agg ORDER BY l_returnflag""")
  )

  /** FORMAT-VERSION 3 WITH DELETION VECTORS (X140 — the r17 verdict's
    * #4 "next hard wall": `IcebergImport` refused `format-version` ≠
    * 1|2; v3 writers are starting to emit Puffin-stored DVs): even
    * lineitem keys exported (snap 1, v2), the table UPGRADED to v3,
    * the %3==0 keys deleted by DELETION VECTOR (snap 2 — roaring64
    * bitmaps in a Puffin file, addressed by the manifest's
    * referenced_data_file/content_offset/content_size triple), the odd
    * keys appended (snap 3 — sequence gating must keep the older DV
    * off them even where positions overlap), then the %5==0 keys
    * DV-deleted across BOTH vintages (snap 4). The head aggregate is
    * hash-exact vs DuckDB replaying both predicates over raw parquet. */
  private val q173 = Q(
    "q173_iceberg_v3_deletion_vectors",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q173-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q173-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.PuffinDeletionVectors.upgradeToV3(s, dest)
      graft.io.PuffinDeletionVectors.writeDVDelete(s, dest, "l_orderkey % 3 = 0")
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 2 =!= 0))
      graft.io.PuffinDeletionVectors.writeDVDelete(s, dest, "l_orderkey % 5 = 0")
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_iceberg_scan('$dest')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    // evens survive %3 and %5; odds (appended after the first DV)
    // survive only %5
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE (l_orderkey % 2 = 0 AND l_orderkey % 3 <> 0 AND l_orderkey % 5 <> 0)
         OR (l_orderkey % 2 = 1 AND l_orderkey % 5 <> 0)
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** V3 DML BY DELETION VECTOR, EXECUTOR-SIDE (X143 — the r18
    * verdict's #2: `writeDVDelete` was fixture tooling that collected
    * positions driver-side; the production path must emit Puffin DVs
    * from tasks, and the r18 ADVICE medium: overlapping DV deletes
    * must supersede, never stack two live DVs on one file): even keys
    * exported (snap 1, v2), UPGRADED to v3, odd keys appended
    * (snap 2, a second file vintage), then the DML face —
    * `deleteWhere(%3, position)` (snap 3: DVs encoded in tasks),
    * `deleteWhere(%5, position)` (snap 4: OVERLAPPING files — prior
    * DVs union into the new blobs, prior entries superseded), and
    * `update(%7 → qty+100)` (snap 5: v3 updates ride position/DV
    * pre-images + a post-image manifest in ONE overwrite snapshot).
    * Head aggregate hash-exact vs DuckDB replaying all three
    * predicates over raw parquet. The one-DV-per-file invariant and
    * task-side writes are plan/spec-asserted in IcebergV3DvSpec. */
  private val q176 = Q(
    "q176_v3_dv_dml",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q176-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      t.overwriteTable(li.filter(col("l_orderkey") % 2 === 0), "li")
      val dest = java.nio.file.Files.createTempDirectory("q176-ice").toString
      graft.io.IcebergExport.export(t, "li", dest)
      graft.io.PuffinDeletionVectors.upgradeToV3(s, dest)
      graft.io.IcebergAppend.append(s, dest, li.filter(col("l_orderkey") % 2 =!= 0))
      graft.io.IcebergDml.deleteWhere(s, dest, "l_orderkey % 3 = 0", strategy = "position")
      graft.io.IcebergDml.deleteWhere(s, dest, "l_orderkey % 5 = 0", strategy = "position")
      graft.io.IcebergDml.update(s, dest, "l_orderkey % 7 = 0",
        Map("l_quantity" -> "l_quantity + 100"))
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM graft_iceberg_scan('$dest')
        GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN l_orderkey % 7 = 0 THEN l_quantity + 100
                         ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      WHERE l_orderkey % 3 <> 0 AND l_orderkey % 5 <> 0
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** ICEBERG REST CATALOG MOUNT (X144 — the r18 verdict's #5: the
    * Nessie-v2 wire matches the reference's own deployment, but the
    * ecosystem's converged catalog protocol is the Iceberg REST
    * OpenAPI, and a migrating user's second catalog speaks it): the
    * table exported under a warehouse, served by
    * [[graft.io.IcebergRestHttpServer]] (LoadTableResult with pinned
    * metadata-location, commits via POST with the spec's
    * requirements), mounted with `uri=` + `type=rest-shape`. A
    * restatement lands STAGED on the table line (the catalog owns the
    * pointer — invisible), then publishes as ONE spec-shaped commit
    * request (`add-snapshot`* + `set-snapshot-ref` guarded by
    * `assert-ref-snapshot-id`); a poison append stays staged. The
    * 3-level-name aggregate hash-matches only if SQL resolves the
    * CATALOG-pinned snapshot — restatement visible, poison not.
    * (The 409 CAS-conflict path is spec-pinned in IcebergRestHttpSpec.) */
  private val q177 = Q(
    "q177_iceberg_rest_catalog",
    (s, dir) => {
      val cat = "rice" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val wh = java.nio.file.Files.createTempDirectory("q177-wh").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh, "dw"))
      val liDir = s"$wh/dw/li"
      val li = fixture(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
      val root = java.nio.file.Files.createTempDirectory("q177-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(li.filter(col("l_orderkey") <= 5000), "li")
      graft.io.IcebergExport.export(t, "li", liDir)
      val srv = new graft.io.IcebergRestHttpServer(s, wh).start()
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.catalog.IcebergWarehouseCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.conf.set(s"spark.sql.catalog.$cat.uri", srv.url)
        s.conf.set(s"spark.sql.catalog.$cat.type", "rest-shape")
        val remote = new graft.io.RemoteIcebergRest(srv.url)
        remote.loadTable("dw", "li") // the catalog pins the export head
        // restatement committed on the table line — STAGED (the
        // catalog owns the pointer), then published as one commit
        // request with requirements
        val restated = li.filter(col("l_orderkey") <= 6000)
          .withColumn("l_quantity",
            when(col("l_orderkey").between(1000, 2000), col("l_quantity") + 5)
              .otherwise(col("l_quantity")))
        graft.io.IcebergAppend.overwrite(s, liDir, restated)
        remote.publishHead(s, "dw", "li", liDir)
        // poison: committed to the table line, never published
        graft.io.IcebergAppend.append(s, liDir, li.filter(col("l_orderkey") <= 100))
        // analysis resolves the catalog pin HERE; the scan reads
        // shared storage, so the server can stop once the plan exists
        s.sql(s"""SELECT l_returnflag, COUNT(*) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
          FROM $cat.dw.li GROUP BY l_returnflag ORDER BY l_returnflag""")
      } finally srv.stop()
    },
    Some("""SELECT l_returnflag, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN l_orderkey BETWEEN 1000 AND 2000 THEN l_quantity + 5
                         ELSE l_quantity END AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem WHERE l_orderkey <= 6000
      GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** PARTITIONED add_files ADOPTION (X141 — the r17 verdict's #5:
    * adopting an existing Hive-partitioned directory tree is
    * add_files' primary real-world use, and that tree IS the
    * reference's bronze layout, `sys_file_date=...` dirs,
    * `datalake_bronze_fetch_raw_data_api_dag.py:288`): odd orders
    * landed as NDJSON (the bronze wire shape), inferred and conformed,
    * written as a date-partitioned parquet tree, and adopted BY
    * REFERENCE into an identity-partitioned table already holding the
    * even orders — the manifest entries derive each file's partition
    * tuple from its `sys_file_date=` path. Per-date aggregate
    * hash-exact vs DuckDB re-deriving the stamp from raw orders.
    * (Partition pruning over the adopted files is plan-asserted in
    * IcebergAppendSpec — a corpus query gates values, not plans.) */
  private val q174 = Q(
    "q174_iceberg_partitioned_adoption",
    (s, dir) => {
      val stamp = when(col("o_orderkey") % 3 === 0, "2026-01-01")
        .when(col("o_orderkey") % 3 === 1, "2026-01-02")
        .otherwise("2026-01-03").cast("date").as("sys_file_date")
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"), stamp)
      val root = java.nio.file.Files.createTempDirectory("q174-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord",
        partitionCols = Seq("sys_file_date"))
      val dest = java.nio.file.Files.createTempDirectory("q174-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)
      // bronze: the odd orders land as NDJSON, get inferred back, and
      // convert to a date-partitioned parquet tree (the silver prep)
      val bronze = java.nio.file.Files.createTempDirectory("q174-bronze").toString + "/nd"
      ord.filter(col("o_orderkey") % 2 =!= 0).write.json(bronze)
      val landed = graft.io.Sources.ndjsonInfer(s, bronze)
        .select(col("o_orderkey").cast("long"), col("o_orderstatus").cast("string"),
          col("o_totalprice").cast("double"), col("sys_file_date").cast("date"))
      val silver = java.nio.file.Files.createTempDirectory("q174-silver").toString + "/pq"
      landed.repartition(col("sys_file_date"))
        .write.partitionBy("sys_file_date").parquet(silver)
      val fs = new org.apache.hadoop.fs.Path(silver)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val files = {
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(silver), true)
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val st0 = it.next()
          if (st0.getPath.getName.endsWith(".parquet")) b += st0.getPath.toString
        }
        b.result().sorted
      }
      graft.io.IcebergAppend.addFiles(s, dest, files)
      s.sql(s"""SELECT CAST(sys_file_date AS STRING) AS sys_file_date, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY sys_file_date ORDER BY sys_file_date""")
    },
    Some("""SELECT CAST(CASE CAST(o_orderkey % 3 AS INT)
          WHEN 0 THEN '2026-01-01' WHEN 1 THEN '2026-01-02' ELSE '2026-01-03'
        END AS VARCHAR) AS sys_file_date,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY 1 ORDER BY 1""")
  )

  /** S3-WIRE EXECUTION under the gate (X142 — the r17 verdict's last
    * "missing" row: the reference runs entirely on MinIO over s3a://,
    * no S3 jar ships here, so the object-store story was design-only;
    * the loopback wire makes it executable): the even orders land on a
    * REAL (loopback) object store through the `s3g://` FileSystem —
    * conditional-PUT CAS, ranged GETs, ListObjectsV2, rename-as-copy —
    * a SnapshotTables table is created ON the store (direct commit
    * layout: the version CAS is a conditional PUT), the odd orders
    * append as a second commit, and a MOR key-delete lands as a third;
    * the aggregate read back OVER THE WIRE must be hash-exact vs
    * DuckDB replaying the chain from raw parquet. */
  private val q175 = Q(
    "q175_object_store_wire",
    (s, dir) => {
      val srv = new graft.io.S3WireServer().start()
      try {
        val hconf = s.sparkContext.hadoopConfiguration
        hconf.set("fs.s3g.impl", classOf[graft.io.S3WireFileSystem].getName)
        hconf.set("fs.s3g.impl.disable.cache", "true")
        hconf.set("fs.s3g.endpoint", srv.url)
        // fixed key range: constant wire traffic at every SF (the gate
        // proves the PROTOCOLS execute on the wire, not bulk throughput)
        val ord = fixture(s, dir, "orders")
          .filter(col("o_orderkey") <= 20000)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .repartition(2)
        val st = new graft.io.SnapshotTables(s, s"s3g://lake/q175")
        st.overwriteTable(ord.filter(col("o_orderkey") % 2 === 0), "ord")
        st.append(ord.filter(col("o_orderkey") % 2 =!= 0), "ord")
        st.deleteKeysMor("ord",
          ord.filter(col("o_orderkey") % 7 === 0).select("o_orderkey").distinct())
        val got = st.read("ord")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
          .orderBy(col("o_orderstatus"))
        // materialize BEFORE the server stops: the plan's scan reads
        // over the loopback wire
        val rows = got.collect().toSeq
        s.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
          got.schema)
      } finally srv.stop()
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey <= 20000 AND NOT (o_orderkey % 7 = 0)
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** REST CATALOG SQL DDL LIFECYCLE (r20 — the r19 verdict's #3: the
    * wire was read/commit-only; drop, rename, namespace CRUD and
    * ListTables pagination are the first verbs a second engine's
    * client calls after load. Reference context: its Nessie catalog is
    * full-lifecycle, `datalake_gold_spark_dag.py:181-186`): pure
    * 3-level-name SQL drives CREATE NAMESPACE → CREATE TABLE (wire
    * CreateTableRequest) → INSERT (staged on the table line) → wire
    * publish → ALTER TABLE RENAME (pointer move — the identifier
    * changes, storage does not) → scrap-table DROP → aggregate read
    * through the RENAMED name. The result hash-matches only if every
    * verb actually worked: the insert published, the renamed pointer
    * resolves the original storage, and the catalog listing converged
    * to exactly the renamed table. */
  private val q178 = Q(
    "q178_iceberg_rest_ddl_lifecycle",
    (s, dir) => {
      val cat = "rddl" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val wh = java.nio.file.Files.createTempDirectory("q178-wh").toString
      val ord = fixture(s, dir, "orders")
        .filter(col("o_orderkey") <= 8000)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
      val srv = new graft.io.IcebergRestHttpServer(s, wh).start()
      try {
        s.conf.set(s"spark.sql.catalog.$cat",
          classOf[graft.catalog.IcebergWarehouseCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
        s.conf.set(s"spark.sql.catalog.$cat.uri", srv.url)
        s.conf.set(s"spark.sql.catalog.$cat.type", "rest-shape")
        val view = s"q178_src_${cat.drop(4)}"
        ord.createOrReplaceTempView(view)
        s.sql(s"CREATE NAMESPACE $cat.dwx")
        s.sql(s"CREATE TABLE $cat.dwx.ord " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO $cat.dwx.ord SELECT * FROM $view") // staged
        new graft.io.RemoteIcebergRest(srv.url).publishHead(s, "dwx", "ord", s"$wh/dwx/ord")
        s.sql(s"ALTER TABLE $cat.dwx.ord RENAME TO dwx.ord_final") // pointer move
        s.sql(s"CREATE TABLE $cat.dwx.scrap (k BIGINT)")
        s.sql(s"DROP TABLE $cat.dwx.scrap")
        val listed = s.sql(s"SHOW TABLES IN $cat.dwx").collect().map(_.getString(1)).toSeq
        require(listed == Seq("ord_final"),
          s"lifecycle listing must converge to the renamed table, got $listed")
        s.catalog.dropTempView(view)
        // the aggregate resolves through the RENAMED 3-level name
        s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          FROM $cat.dwx.ord_final GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      } finally srv.stop()
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey <= 8000
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** V3 ROW LINEAGE READ (r20 — the r19 verdict's #4: the write side
    * already maintained first-row-id/next-row-id; readers could not
    * get the spec's inherited values. CDC-by-lineage is the v3 feature
    * foreign tables will start carrying): export (v2 history, NO
    * lineage) → upgrade → two deterministic single-file sorted appends
    * (ids assigned from the table's next-row-id: manifest-list
    * first_row_id 520 + row position) → a DV delete (survivors must
    * KEEP their ids — positions are original file ordinals) →
    * `readWithRowLineage`. The oracle replays the ENTIRE arithmetic in
    * DuckDB: ROW_NUMBER over each batch's sort order, offset by the
    * prior batch's count, deletes applied AFTER assignment; pre-upgrade
    * rows fold into the seq=0 bucket with null id sums. Hash-exact
    * means ids, sequence stamps and null-lineage posture all agree. */
  private val q179 = Q(
    "q179_iceberg_row_lineage",
    (s, dir) => {
      val ord = fixture(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
      val root = java.nio.file.Files.createTempDirectory("q179-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      t.overwriteTable(ord.filter(col("o_orderkey") <= 4000), "ord")
      val dest = java.nio.file.Files.createTempDirectory("q179-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest)                    // v2 history
      graft.io.PuffinDeletionVectors.upgradeToV3(s, dest)              // next-row-id = 0
      def batch(lo: Long, hi: Long) =
        ord.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
          .repartition(1).sortWithinPartitions("o_orderkey")
      graft.io.IcebergAppend.append(s, dest, batch(4000, 6000))        // ids 0..n2-1
      graft.io.IcebergAppend.append(s, dest, batch(6000, 8000))        // ids n2..
      graft.io.PuffinDeletionVectors.writeDVDelete(s, dest, "o_orderkey % 5 = 0")
      // through the SQL face (graft_iceberg_lineage_scan, r20) — the
      // TVF registration rides the same oracle gate as the Scala API
      s.sql(s"""SELECT COALESCE(_last_updated_sequence_number, CAST(0 AS BIGINT)) AS seq,
        COUNT(*) AS n,
        CAST(SUM(_row_id) AS BIGINT) AS sum_rid,
        CAST(MIN(_row_id) AS BIGINT) AS min_rid,
        CAST(MAX(_row_id) AS BIGINT) AS max_rid
        FROM graft_iceberg_lineage_scan('$dest')
        GROUP BY 1 ORDER BY 1""")
    },
    Some("""WITH b2 AS (
        SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
        FROM orders WHERE o_orderkey > 4000 AND o_orderkey <= 6000),
      b3 AS (
        SELECT o_orderkey,
          (SELECT COUNT(*) FROM b2) + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
        FROM orders WHERE o_orderkey > 6000 AND o_orderkey <= 8000),
      post AS (
        SELECT o_orderkey, 2 AS seq, rid FROM b2
        UNION ALL SELECT o_orderkey, 3 AS seq, rid FROM b3),
      surv AS (SELECT * FROM post WHERE o_orderkey % 5 <> 0)
      SELECT CAST(seq AS BIGINT) AS seq, COUNT(*) AS n,
        CAST(SUM(rid) AS BIGINT) AS sum_rid,
        CAST(MIN(rid) AS BIGINT) AS min_rid, CAST(MAX(rid) AS BIGINT) AS max_rid
      FROM surv GROUP BY seq
      UNION ALL
      SELECT 0 AS seq, COUNT(*) AS n, CAST(NULL AS BIGINT) AS sum_rid,
        CAST(NULL AS BIGINT) AS min_rid, CAST(NULL AS BIGINT) AS max_rid
      FROM orders WHERE o_orderkey <= 4000 AND o_orderkey % 5 <> 0
      ORDER BY seq""")
  )

  /** V3-NATIVE EXPORT (r20 — the r19 verdict's #5: a graft MOR chain
    * could only be handed to a v3-expecting engine as equality
    * deletes): the q145 chain (overwrite → MOR upsert → MOR key
    * delete) exported with `formatVersion=3` — format-version-3
    * metadata with next-row-id / first-row-id stamps and EVERY delete
    * expressed as a Puffin deletion vector (keys joined against
    * chain-prior row positions, blobs encoded in executor tasks, one
    * live DV per referenced file per list). In-query requires pin the
    * structure (v3 metadata, zero equality-delete entries, one DV per
    * file); the aggregate through `graft_iceberg_scan` hash-matches
    * DuckDB replaying the MOR resolution — DVs resolved the chain
    * EXACTLY like the v2 equality export does. */
  private val q180 = Q(
    "q180_iceberg_v3_export",
    (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("q180-snap").toString
      val t = new graft.io.SnapshotTables(s, root)
      val ord = fixture(s, dir, "orders")
      t.overwriteTable(ord, "ord")                                     // v1
      t.upsertMor("ord",                                               // v2: reprice %97 keys
        ord.filter(col("o_orderkey") % 97 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"))
      t.deleteKeysMor("ord",                                           // v3: purge %89 keys
        ord.filter(col("o_orderkey") % 89 === 0).select("o_orderkey"))
      val dest = java.nio.file.Files.createTempDirectory("q180-ice").toString
      graft.io.IcebergExport.export(t, "ord", dest, formatVersion = 3)
      val hint = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dest, "metadata", "version-hint.text")), "UTF-8").trim
      val md = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$dest/metadata/v$hint.metadata.json"))
      require(md.get("format-version").asInt == 3 && md.get("next-row-id").asLong > 0,
        "v3 export must stamp format-version 3 + next-row-id")
      val dels = graft.io.IcebergImport.deleteFileInfo(s, dest)
      require(dels.nonEmpty && dels.forall(d => d._1 == 1 && d._3.isDefined),
        s"v3 export must carry ONLY deletion vectors, got $dels")
      require(dels.flatMap(_._3.map(_._1)).groupBy(identity).forall(_._2.size == 1),
        "one live DV per referenced file")
      s.sql(s"""SELECT o_orderstatus, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM graft_iceberg_scan('$dest')
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS n,
      CAST(SUM(CAST(CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 2
                         ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      FROM orders WHERE o_orderkey % 89 <> 0
      GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  val all: Seq[Q] = Seq(
    q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47,
    q48, q49, q55, q86, q87, q88, q95, q96, q97, q98, q98b, q99, q100, q101, q102, q106, q107, q108,
    q109, q111, q112, q113, q114, q116, q117, q118, q119, q121, q122, q123, q125, q126, q127,
    q128, q130, q131, q132, q133, q135, q136, q137, q138, q139, q140, q141, q143, q144,
    q145, q146, q147, q148, q149, q150, q151, q152, q153, q154, q155, q156, q157, q158, q159,
    q160, q161, q162, q163, q164, q165, q166, q166b, q167, q168, q169, q170, q171, q172, q173, q174, q175,
    q176, q177, q178, q179, q180
  )

}
