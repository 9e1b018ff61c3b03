package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is
  *    broadcast, so the corpus is scanned once with no shuffle of the
  *    big side — correct baseline and fine whenever |queries| is small.
  *  - [[lshTopK]]: random-hyperplane LSH. Signatures are a per-row
  *    projection; candidates only form within a bucket, so the join
  *    output scales with bucket occupancy (n²/2^bits per bucket on
  *    uniform data), not n². This is the 100 TB path: bucket count
  *    rises with `bits`, and the bucket join shuffles hashed buckets
  *    like any key join (AQE handles hot buckets).
  *
  * Hyperplanes are seeded deterministically — same plan every run, and
  * results are reproducible across clusters.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query vector.
    * Deterministic tiebreak on neighbor id. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    // Norms are computed once per ROW (not once per pair): the pair
    // score is then a single codegen'd dot product. Same arithmetic,
    // |Q|+|C| instead of 3·|Q|·|C| folds.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_nrm"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_nrm"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** All embedding pairs with cosine above `threshold` — brute-force
    * n²/2 nested loop. EXACT-BASELINE / ORACLE ONLY: this is the one
    * shape that can never run at corpus scale (SURVEY §7: "similarity
    * join must be LSH-bucketed — never cartesian"). Production path is
    * [[nearDupPairsLsh]]; specs keep this as the recall oracle. */
  def nearDupPairs(corpus: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("a"), col(vecCol).as("a_vec"), norm(col(vecCol)).as("a_nrm"))
    val b = corpus.select(col(idCol).as("b"), col(vecCol).as("b_vec"), norm(col(vecCol)).as("b_nrm"))
    a.join(b, col("a") < col("b"))
      .withColumn("score", dot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("score") > threshold)
      .select(col("a"), col("b"), round(col("score"), 6).as("score"))
      .orderBy(col("a"), col("b"))
  }

  /** Embedding near-duplicate pairs at scale: sign-bit-LSH candidate
    * generation + exact cosine re-score.
    *
    * Candidates form only inside a bucket — the self-join is an
    * equi-join on the bucket id, so pair volume scales with bucket
    * occupancy (~n²/2^bits per bucket on uniform data), never n².
    * `tables` independent seeded bucketings are unioned
    * (OR-amplification: a true near-dup pair is missed only if it
    * splits in EVERY table, P ≈ (1-p)^T) and deduplicated before one
    * exact re-score, which keeps scoring linear in unique candidates.
    *
    * Shuffle shape at 100 TB: per table one (id, bucket) self-join
    * keyed on an 8-byte bucket; the distinct shuffles candidate id
    * pairs only (vectors are joined back AFTER dedup, so signatures —
    * not arrays — flow through the wide part of the plan). Approximate
    * by design: recall rises with `tables` and falls with `bits`;
    * cross-bucket pairs in all tables are missed, exactly like any
    * LSH index.
    *
    * SIZING REQUIREMENT — `bits` must grow with corpus size. With b
    * bits there are only 2^b buckets, so each bucket holds ~n/2^b rows
    * and the self-join emits ~n²/2^b candidate pairs per table: fixed
    * bits is still quadratic in n. Choose
    * `bits ≈ log2(n / targetBucketSize)` (e.g. n=10⁹, target 10⁴/bucket
    * ⇒ ~17 bits), then buy recall back with `tables` (OR-amplification)
    * rather than fewer bits. The defaults (bits=4, tables=2) are sized
    * for the small test fixtures, where they measure ~30-40% recall at
    * threshold 0.4 (see SimilaritySpec's tuned-params floor: bits=3 /
    * tables=8 reaches 86-95% on the same data) — production callers
    * pick both knobs from n and the recall target. */
  /** The SIZING REQUIREMENT as code: the bit width that holds expected
    * LSH bucket occupancy at ~`targetPerBucket` rows for an `n`-row
    * corpus — `ceil(log2(n / targetPerBucket))`, floored at 1 (2
    * buckets), capped at 30. Under this rule candidate volume per
    * table is ~n·targetPerBucket/2 — LINEAR in n — instead of the
    * quadratic n²/2^bits a fixed width degrades to (the round-11 10×
    * scale smoke measured exactly that super-linear growth on the
    * fixed-bits self-joins). Feed the result to any `bits` parameter
    * in this object; buy recall back with `tables`, never with fewer
    * bits. */
  def bitsFor(n: Long, targetPerBucket: Long = 10000L): Int = {
    require(n > 0 && targetPerBucket > 0, "bitsFor needs positive sizes")
    val ratio = math.max(1.0, n.toDouble / targetPerBucket)
    math.min(30, math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  def nearDupPairsLsh(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 4,
      dim: Int = 64,
      tables: Int = 2
  ): DataFrame = {
    val cand = signBitCandidatePairs(corpus, idCol, vecCol, bits, dim, tables)
    val va = corpus.select(col(idCol).as("a"), col(vecCol).as("a_vec"), norm(col(vecCol)).as("a_nrm"))
    val vb = corpus.select(col(idCol).as("b"), col(vecCol).as("b_vec"), norm(col(vecCol)).as("b_nrm"))
    cand
      .join(va, "a")
      .join(vb, "b")
      .withColumn("score", dot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("score") > threshold)
      .select(col("a"), col("b"), round(col("score"), 6).as("score"))
      .orderBy(col("a"), col("b"))
  }

  /** Distinct same-bucket id pairs (a < b) across `tables` seeded
    * sign-bit bucketings — the candidate-generation core shared by
    * [[nearDupPairsLsh]] and [[knnJoinLsh]]. Per table one equi-join
    * keyed on an 8-byte bucket; pair volume ~n²/2^bits per table on
    * uniform data (size `bits` with the corpus). */
  private def signBitCandidatePairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int, dim: Int, tables: Int): DataFrame = {
    require(tables >= 1, "need at least one table")
    def bucket(vec: org.apache.spark.sql.Column, seed: Long) = {
      val planes = hyperplanes(dim, bits, seed)
      (0 until bits)
        .map(b => when(dot(vec, typedLit(planes(b).toSeq)) > 0, 1L << b).otherwise(0L))
        .reduce(_ + _)
    }
    (0 until tables)
      .map { t =>
        val n = corpus.select(col(idCol).as("id"), bucket(col(vecCol), 42L + t).as("bkt"))
        n.select(col("id").as("a"), col("bkt"))
          .join(n.select(col("id").as("b"), col("bkt")), Seq("bkt"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"))
      }
      .reduce(_ unionByName _)
      .distinct()
  }

  /** Approximate k-NN SELF-join: every document's top-k neighbors by
    * cosine among its LSH candidates — the graph-building primitive
    * (near-dup graphs for clustering, semantic-neighborhood audits)
    * where [[lshTopK]] serves a small query batch, this serves ALL n
    * rows as queries without ever forming n² pairs.
    *
    * Shape: [[signBitCandidatePairs]] (bucket equi-joins, pair volume
    * governed by `bits`), symmetrized (a kNN list is per-doc, so each
    * undirected candidate pair feeds both endpoints), one exact
    * re-score of distinct candidates, then a per-doc top-k window —
    * which Spark 4 plans with a PARTIAL WindowGroupLimit below the
    * exchange, so the window shuffle carries at most k rows per doc
    * per map task. Approximate exactly like every LSH path: a true
    * neighbor splitting from its doc in all tables is missed; recall
    * rises with `tables`, candidate volume with `bits` (sizing rule in
    * [[nearDupPairsLsh]]'s doc). Output: (id, rk, neighbor_id, score).
    */
  def knnJoinLsh(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 4,
      dim: Int = 64,
      tables: Int = 2
  ): DataFrame = {
    val cand = signBitCandidatePairs(corpus, idCol, vecCol, bits, dim, tables)
    val sym = cand.unionByName(cand.select(col("b").as("a"), col("a").as("b")))
    val va = corpus.select(col(idCol).as("a"), col(vecCol).as("a_vec"), norm(col(vecCol)).as("a_nrm"))
    val vb = corpus.select(col(idCol).as("b"), col(vecCol).as("b_vec"), norm(col(vecCol)).as("b_nrm"))
    val w = Window.partitionBy(col("a")).orderBy(col("score").desc, col("b"))
    sym
      .join(va, "a")
      .join(vb, "b")
      .withColumn("score", dot(col("a_vec"), col("b_vec")) / (col("a_nrm") * col("b_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("a").as("id"), col("rk"), col("b").as("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("id"), col("rk"))
  }

  /** Hard-negative mining for contrastive training: for each document,
    * its most-similar neighbors that are NOT near-duplicates — the
    * similar-but-different examples an embedding model learns the most
    * from (near-dups would be false negatives and poison the loss;
    * random negatives are too easy to carry signal).
    *
    * Composition of existing pieces, all keyed: [[knnJoinLsh]]
    * generates each doc's candidate neighbor list (LSH-bounded, never
    * n²), pairs above `dupThreshold` are dropped as presumed
    * duplicates, and the surviving neighbors are re-ranked per doc —
    * top `negativesPerDoc` kept, rank re-numbered after the drop
    * (Spark 4 plans the second rank with a partial WindowGroupLimit
    * exactly like the first). Same approximation contract as every
    * LSH path; `fetchK` should exceed `negativesPerDoc` by the
    * expected near-dup count per doc.
    *
    * Output: (id, rk, neighbor_id, score) — rk over NEGATIVES only. */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      negativesPerDoc: Int,
      dupThreshold: Double,
      fetchK: Int = 10,
      bits: Int = 4,
      dim: Int = 64,
      tables: Int = 2
  ): DataFrame = {
    require(fetchK > negativesPerDoc, "fetchK must exceed negativesPerDoc to absorb dropped near-dups")
    val knn = knnJoinLsh(corpus, idCol, vecCol, fetchK, bits, dim, tables)
    val w = Window.partitionBy(col("id")).orderBy(col("score").desc, col("neighbor_id"))
    knn
      .filter(col("score") <= dupThreshold) // near-dups are FALSE negatives — out
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= negativesPerDoc)
      .select(col("id"), col("rk"), col("neighbor_id"), col("score"))
      .orderBy(col("id"), col("rk"))
  }

  /** Deterministic random hyperplanes: `bits` planes of dimension
    * `dim`, seeded — the library never calls entropy sources at plan
    * time. */
  private[graft] def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(bits, dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH bucket + exact re-rank within bucket. Returns top-k
    * per query among same-bucket candidates (approximate: misses
    * cross-bucket neighbors, as LSH does by design).
    *
    * `probes` > 0 enables multi-probe: each query ALSO searches the
    * buckets obtained by flipping its `probes` weakest sign bits (the
    * projections closest to the hyperplane — exactly the bits most
    * likely to differ for a true near neighbor). Recall rises with
    * probes at the cost of probing `probes+1` buckets per query; the
    * corpus side is untouched, so at 100 TB this multiplies only the
    * (small) query fan-out, never the corpus scan or index size —
    * the standard alternative to doubling `bits` tables. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64,
      probes: Int = 0
  ): DataFrame = {
    require(probes >= 0 && probes < bits, "probes must be in [0, bits)")
    val planes = hyperplanes(dim, bits)
    // bucket = Σ_b 2^b * [plane_b · v > 0], one codegen'd dot per
    // plane against a literal coefficient array (same ascending-index
    // double fold as the unrolled sum, so the SQL oracle stays
    // bit-exact, with ~dim× smaller generated code).
    def proj(vec: org.apache.spark.sql.Column, b: Int) = dot(vec, typedLit(planes(b).toSeq))
    def bucket(vec: org.apache.spark.sql.Column) =
      (0 until bits)
        .map(b => when(proj(vec, b) > 0, 1L << b).otherwise(0L))
        .reduce(_ + _)

    val qBase = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_nrm"), bucket(col(vecCol)).as("bkt"))
    val q =
      if (probes == 0) qBase
      else {
        // weakest bits = smallest |projection|, ties to the lower bit
        // index (struct sort on (abs, bit)); each probe flips ONE bit
        val weak = array_sort(array((0 until bits).map(b =>
          struct(abs(proj(col("q_vec"), b)).as("a"), lit(b).as("b"))): _*))
        val pow2 = typedLit((0 until bits).map(1L << _))
        val probeBkts = array(col("bkt") +: (0 until probes).map(i =>
          col("bkt").bitwiseXOR(element_at(pow2, element_at(weak, i + 1).getField("b") + 1))): _*)
        qBase
          .withColumn("bkt", explode(probeBkts))
      }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_nrm"), bucket(col(vecCol)).as("bkt"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    c.join(q, Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Element-wise centroid per group: posexplode the vectors to
    * (group, dim, x) and aggregate each dimension — the cross-row array
    * aggregation that trains coarse quantizers (IVF cells, k-means
    * steps). Sums go through DECIMAL so the result is independent of
    * partial-aggregation order (double sums would drift run-to-run at
    * scale); floats widen exactly through double first.
    *
    * Output: (groupCol, dim, centroid, n) — flat rows, one per
    * dimension, so downstream can pivot or re-assemble as needed. */
  def centroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col(groupCol), col("dim"))
      .agg(
        round((sum(col("x").cast("double").cast("decimal(28,10)")) / count(lit(1))).cast("double"), 6)
          .as("centroid"),
        count(lit(1)).as("n")
      )

  /** Deterministic k-means refinement of a coarse quantizer: seed
    * centroids are the vectors with id < k (same convention as
    * [[ivfTopK]]), then `iters` Lloyd steps — assign every vector to
    * its max-cosine centroid (broadcast centroids, scan-local dots,
    * partial-agg argmax) and recompute element-wise means via
    * [[centroids]] (decimal sums ⇒ order-independent, so the result is
    * bit-stable across runs and cluster layouts). Lineage is cut every
    * `checkpointInterval` steps via [[graft.core.Lineage.cut]] —
    * executor-local by default, durable when `checkpointDir` is given
    * (survives executor death on long cluster runs).
    *
    * Returns (cell_id, cent_vec array<double>, n) — feed to an IVF
    * index build. Empty cells keep their previous centroid (standard
    * Lloyd handling, deterministic). */
  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 3,
      checkpointInterval: Int = 1,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    // norms ride the checkpointed frame: each Lloyd step scores every
    // vector against k candidate centroids, and without this the row
    // norm would be recomputed k times per row per iteration. The steps
    // run in the caller's session at its configured width: AQE
    // coalesces each step's shuffles to the bytes they carry, and a
    // session clone (to narrow the width) would give every call a fresh
    // task class loader, recompiling the steps' generated code
    val vecs = corpus.select(col(idCol).cast("long").as("__vid"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__nrm", norm(col("__v")))
      .localCheckpoint(true)
    var cent = vecs.filter(col("__vid") < k)
      .select(col("__vid").as("cell_id"), col("__v").as("cent_vec"), lit(1L).as("n"))
      .localCheckpoint(true)
    for (i <- 0 until iters) {
      val centN = cent.select(col("cell_id"), col("cent_vec"), norm(col("cent_vec")).as("__cnrm"))
      val assigned = vecs
        .join(broadcast(centN))
        .withColumn("cscore",
          dot(col("__v"), col("cent_vec")) / (col("__nrm") * col("__cnrm")))
        .groupBy(col("__vid"))
        .agg(max(struct(col("cscore"), col("cell_id"))).as("m"), first(col("__v")).as("__v"))
        .select(col("m.cell_id").as("cell_id"), col("__v"))
      val means = centroids(assigned, "cell_id", "__v")
        .groupBy(col("cell_id"))
        .agg(
          transform(array_sort(collect_list(struct(col("dim"), col("centroid")))), s => s.getField("centroid"))
            .as("cent_vec"),
          first(col("n")).as("n")
        )
      // empty cells: keep the previous centroid (left join, coalesce)
      val next = cent.select(col("cell_id"), col("cent_vec").as("__prev"))
        .join(means.withColumnRenamed("cent_vec", "__new"), Seq("cell_id"), "left")
        .select(col("cell_id"), coalesce(col("__new"), col("__prev")).as("cent_vec"),
          coalesce(col("n"), lit(0L)).as("n"))
      // lineage cut every `checkpointInterval` steps and always after
      // the last: the default (every step) is what unbounded iteration
      // counts need at cluster scale; a short audit run can raise it to
      // fold all steps into one job and skip the per-step job overhead
      cent =
        if ((i + 1) % checkpointInterval == 0 || i == iters - 1)
          graft.core.Lineage.cut(next, checkpointDir)
        else next
    }
    // already checkpointed: i == iters-1 always cuts
    cent
  }

  /** Mean within-cluster cosine distance (1 - cos) — the quantity each
    * Lloyd step is expected to not increase; used by specs to prove the
    * refinement converges. */
  def kmeansInertia(corpus: DataFrame, idCol: String, vecCol: String, cent: DataFrame): Double = {
    val vecs = corpus.select(col(idCol).cast("long").as("__vid"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    vecs
      .join(broadcast(cent.select(col("cell_id"), col("cent_vec"))))
      .withColumn("cscore",
        dot(col("__v"), col("cent_vec")) / (norm(col("__v")) * norm(col("cent_vec"))))
      .groupBy(col("__vid"))
      .agg(max(col("cscore")).as("best"))
      .agg(avg(lit(1.0) - col("best")))
      .head().getDouble(0)
  }

  /** Persist an LSH ANN index as a bucketed managed table: one row per
    * vector with its precomputed sign-bit bucket and norm, hash-bucketed
    * BY the LSH bucket column. Build once, serve many — the index scan
    * work (bucketing projections, norms) is paid at build time, and
    * [[queryLshIndex]] reads only the probed buckets' FILES (Spark
    * bucket pruning), so each query batch touches ~|probed buckets| /
    * 2^bits of the index — sub-linear serving over a 100 TB corpus. */
  /** The sign-bit LSH bucket expression — ONE definition shared by the
    * batch index build, the snapshot-index upsert, and both query
    * paths, so index and probe bucketing can never drift. */
  private def lshBucket(vec: org.apache.spark.sql.Column, bits: Int, dim: Int): org.apache.spark.sql.Column = {
    val planes = hyperplanes(dim, bits)
    (0 until bits)
      .map(b => when(dot(vec, typedLit(planes(b).toSeq)) > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
  }

  /** The index projection: one row per vector with its precomputed
    * bucket and norm — the schema every LSH index variant stores. */
  private def lshIndexRows(corpus: DataFrame, idCol: String, vecCol: String,
      bits: Int, dim: Int): DataFrame =
    corpus.select(
      col(idCol).as("neighbor_id"),
      col(vecCol).as("c_vec"),
      norm(col(vecCol)).as("c_nrm"),
      lshBucket(col(vecCol), bits, dim).as("bkt"))

  def buildLshIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      table: String,
      bits: Int = 8,
      dim: Int = 64,
      numBuckets: Int = 32
  ): Unit =
    graft.io.Sinks.bucketedTable(
      lshIndexRows(corpus, idCol, vecCol, bits, dim), table, Seq("bkt"), numBuckets)

  /** Incremental UPSERT of new vectors into a persisted LSH ANN index
    * kept as a [[graft.io.SnapshotTables]] table partitioned BY the
    * bucket column — the maintenance path a growing corpus needs
    * between full rebuilds ([[buildLshIndex]] is build-once): each
    * call merges the batch's index rows by vector id (re-ingesting a
    * vector replaces its row — idempotent under replay, which is what
    * makes the streaming sink exactly-once) and commits ONE new
    * version through the fenced CAS. Directory partitioning on `bkt`
    * preserves the serving property: [[queryLshIndexSnapshot]] probes
    * prune to partition DIRECTORIES (the snapshot-table analogue of
    * the bucketed table's SelectedBucketsCount file pruning). */
  def upsertLshIndex(
      tables: graft.io.SnapshotTables,
      table: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int = 8,
      dim: Int = 64
  ): Unit =
    tables.merge(table, lshIndexRows(batch, idCol, vecCol, bits, dim),
      keyCols = Seq("neighbor_id"), partitionCols = Seq("bkt"))

  /** Top-k ANN against an [[upsertLshIndex]]-maintained snapshot
    * index: same probe-IN-pushdown + broadcast-query + exact re-rank
    * as [[queryLshIndex]], reading the snapshot table's CURRENT
    * version (a consistent snapshot even mid-upsert) with the probed
    * buckets pruning to partition directories. */
  def queryLshIndexSnapshot(
      tables: graft.io.SnapshotTables,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_nrm"), lshBucket(col(vecCol), bits, dim).as("bkt"))
      .localCheckpoint(true) // bucket values needed twice: IN-filter + join
    val probed: Seq[Long] = q.select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val c = tables.read(table).filter(col("bkt").isin(probed: _*))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Top-k ANN against a persisted [[buildLshIndex]] table. The query
    * batch's buckets are collected (|queries| values — the one
    * deliberately driver-side step, tiny by definition) and pushed as
    * an IN filter on the bucket column, so the bucketed-table scan
    * prunes to only the matching bucket files (`SelectedBucketsCount`
    * in the plan — spec-asserted); queries are then broadcast and
    * re-ranked exactly, same semantics as [[lshTopK]]. */
  def queryLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64
  ): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      norm(col(vecCol)).as("q_nrm"), lshBucket(col(vecCol), bits, dim).as("bkt"))
      .localCheckpoint(true) // bucket values needed twice: IN-filter + join
    val probed: Seq[Long] = q.select(col("bkt")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val c = spark.table(table).filter(col("bkt").isin(probed: _*))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Multi-table sign-bit LSH: `tables` independent bucketings (seeded
    * hyperplane sets), candidates = the UNION of per-table same-bucket
    * pairs, deduplicated before one exact re-rank. OR-amplification:
    * recall 1-(1-p)^T for per-table collision probability p — the third
    * recall lever next to `bits` (bucket granularity) and `probes`
    * (per-table probing). Cost: T bucketing projections of the corpus
    * (scan-local) and T bucket joins; the distinct keeps re-ranking
    * linear in unique candidates. */
  def lshTopKMultiTable(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      dim: Int = 64,
      tables: Int = 2
  ): DataFrame = {
    require(tables >= 1, "need at least one table")
    def bucket(vec: org.apache.spark.sql.Column, seed: Long) = {
      val planes = hyperplanes(dim, bits, seed)
      (0 until bits)
        .map(b => when(dot(vec, typedLit(planes(b).toSeq)) > 0, 1L << b).otherwise(0L))
        .reduce(_ + _)
    }
    val pairs = (0 until tables)
      .map { t =>
        val q = queries.select(col(idCol).as("query_id"), bucket(col(vecCol), 42L + t).as("bkt"))
        val c = corpus.select(col(idCol).as("neighbor_id"), bucket(col(vecCol), 42L + t).as("bkt"))
        c.join(q, Seq("bkt")).filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"))
      }
      .reduce(_ unionByName _)
      .distinct()
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_nrm"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_nrm"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    pairs
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every vector
    * to its nearest of `numCells` centroid cells; queries probe only
    * their `nprobe` best cells and re-rank exactly inside them.
    *
    * Centroids are data-driven and deterministic: the vectors with
    * id < numCells (a seeded k-means refinement would improve recall
    * but breaks cross-engine verifiability; the cell/probe/re-rank
    * machinery — the part that matters at scale — is identical).
    *
    * Scale shape: the centroid set is a tiny broadcast; assignment is
    * scan-local (|corpus|·numCells codegen'd dots) followed by a
    * partial-agg argmax (shuffle = one row per vector); the candidate
    * join shuffles on cell id, so cost scales with probed-cell
    * occupancy (~nprobe/numCells of the corpus per query), never
    * |corpus|·|queries|. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numCells: Int = 16,
      nprobe: Int = 2
  ): DataFrame =
    ivfTopKWithCentroids(
      corpus, queries, idCol, vecCol, k,
      corpus.filter(col(idCol) < numCells)
        .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("cent_vec")),
      nprobe
    )

  /** IVF against a caller-supplied centroid table `(cell_id, cent_vec)`
    * — in particular the output of [[kmeansCentroids]], closing the
    * loop: refine the coarse quantizer offline, then serve with the
    * same cell/probe/re-rank machinery. The centroid table is tiny
    * (numCells rows) and broadcast; everything else is identical to
    * [[ivfTopK]], whose seed-centroid convention is just the
    * `id < numCells` special case of this. */
  def ivfTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int = 2
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_nrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_nrm"))
    val cent = centroids
      .select(col("cell_id"), col("cent_vec"), norm(col("cent_vec")).as("cent_nrm"))

    // argmax cell per corpus vector: max(struct(score, cell)) is a
    // partial aggregation — map-side combine keeps the shuffle at one
    // row per vector; ties break to the highest cell_id.
    val assigned = c
      .join(broadcast(cent))
      .withColumn("cscore", dot(col("c_vec"), col("cent_vec")) / (col("c_nrm") * col("cent_nrm")))
      .groupBy(col("neighbor_id"))
      .agg(
        max(struct(col("cscore"), col("cell_id"))).as("m"),
        first(col("c_vec")).as("c_vec"),
        first(col("c_nrm")).as("c_nrm")
      )
      .select(col("neighbor_id"), col("c_vec"), col("c_nrm"), col("m.cell_id").as("cell_id"))

    val wp = Window.partitionBy(col("query_id")).orderBy(col("pscore").desc, col("cell_id").desc)
    val probes = q
      .join(broadcast(cent))
      .withColumn("pscore", dot(col("q_vec"), col("cent_vec")) / (col("q_nrm") * col("cent_nrm")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("q_nrm"), col("cell_id"))

    val wk = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    assigned
      .join(probes, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("q_vec"), col("c_vec")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  // --------------------------------------------------- product quantization

  /** Split each vector into `m` contiguous subvectors of dim/m doubles:
    * (id, subspace, sv). One explode over a literal struct array — no
    * shuffle, stays inside whole-stage codegen. */
  private def subvectors(corpus: DataFrame, idCol: String, vecCol: String, dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    val pieces = (0 until m).map { s =>
      struct(lit(s).as("subspace"),
        transform(slice(col(vecCol), s * sub + 1, sub), x => x.cast("double")).as("sv"))
    }
    corpus.select(col(idCol).cast("long").as("__vid"), explode(array(pieces: _*)).as("p"))
      .select(col("__vid"), col("p.subspace").as("subspace"), col("p.sv").as("sv"))
  }

  /** Nearest codeword per (vector, subspace): broadcast the codebooks
    * (m·k rows — tiny), scan-local distances, argmin as a partial
    * aggregation (min(struct) combines map-side: the shuffle carries
    * one row per (vector, subspace), never the m·k scored rows).
    * Deterministic tiebreak on code. */
  private def assignCodes(sub: DataFrame, codebooks: DataFrame): DataFrame =
    // min_by over the (dist, code) struct: same argmin + deterministic
    // tiebreak as min(struct).code, but hash-aggregable — no
    // SortAggregate per-partition sorts on the corpus-sized frame
    sub.join(broadcast(codebooks), Seq("subspace"))
      .withColumn("__d", euclideanSq(col("sv"), col("cw")))
      .groupBy(col("__vid"), col("subspace"))
      .agg(min_by(col("code"), struct(col("__d"), col("code"))).as("code"),
        first(col("sv")).as("sv"))
      .select(col("__vid"), col("subspace"), col("sv"), col("code"))

  /** Train product-quantization codebooks: an independent k-means per
    * subspace, all `m` subspaces trained in ONE distributed Lloyd loop
    * — the frames are keyed by (subspace, code), so more subspaces
    * mean more rows, not more jobs. Seed codewords for subspace `s`
    * are the subvectors of the vectors with id < k (the same seeding
    * convention as [[ivfTopK]] / [[kmeansCentroids]], and — at
    * iters=0 — a codebook the oracle corpus can re-derive in pure
    * SQL). Means go through [[centroids]]' DECIMAL sums, so training
    * is bit-stable across runs and cluster layouts; empty codes keep
    * their previous codeword.
    *
    * Returns (subspace, code, cw array<double>): m·k rows — broadcast
    * material for [[pqEncode]] / [[pqTopK]] however big the corpus is.
    */
  def pqTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 0
  ): DataFrame = {
    val sub = subvectors(corpus, idCol, vecCol, dim, m).localCheckpoint(true)
    var cb = sub.filter(col("__vid") < k)
      .select(col("subspace"), col("__vid").cast("int").as("code"), col("sv").as("cw"))
      .localCheckpoint(true)
    for (_ <- 0 until iters) {
      // pack (subspace, code) into one cell key for the shared
      // element-wise-mean helper, then unpack
      val keyed = assignCodes(sub, cb)
        .select((col("subspace").cast("long") * k + col("code")).as("__cell"), col("sv"))
      val means = centroids(keyed, "__cell", "sv")
        .groupBy(col("__cell"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("centroid")))),
          s => s.getField("centroid")).as("__new"))
        .select((col("__cell") / k).cast("int").as("subspace"),
          (col("__cell") % k).cast("int").as("code"), col("__new"))
      cb = cb.select(col("subspace"), col("code"), col("cw").as("__prev"))
        .join(means, Seq("subspace", "code"), "left")
        .select(col("subspace"), col("code"),
          coalesce(col("__new"), col("__prev")).as("cw"))
        .localCheckpoint(true)
    }
    cb
  }

  /** Encode the corpus against trained codebooks: one row per vector,
    * `codes` = array<int> of m codeword ids — dim×4 bytes of float32
    * down to m small ints at rest. THIS is PQ's 100 TB story: the
    * serving scan reads the codes table (16 bytes/row at m=8 packed)
    * instead of the raw embeddings (256 bytes/row at dim=64), an
    * IO reduction that holds at any corpus size because the codebooks
    * stay m·k rows regardless. Returns (idCol, codes). */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int
  ): DataFrame =
    assignCodes(subvectors(corpus, idCol, vecCol, dim, m), codebooks)
      .groupBy(col("__vid"))
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => s.getField("code")).as("codes"))
      .select(col("__vid").as(idCol), col("codes"))

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    * query precomputes its distance to every codeword (m·k doubles —
    * one broadcast lookup array per query, laid out slot = subspace·k
    * + code), and scoring a corpus row is m array lookups summed — no
    * vector math against the corpus at all. Partial distances are
    * round(·,8) → DECIMAL-summed, so the score is independent of both
    * fold order and engine (the oracle recomputes it exactly), and the
    * ranking is total (tiebreak on neighbor id).
    *
    * `codes` is [[pqEncode]] output; `queries` carries raw vectors.
    * Returns (query_id, rk, neighbor_id, adc) — adc ascending (it is a
    * squared-distance surrogate: smaller is nearer). */
  def pqTopK(
      codes: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      topK: Int
  ): DataFrame = {
    val qtab = pqQueryTables(queries, idCol, vecCol, codebooks, dim, m, k)
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col(idCol))
    codes.crossJoin(broadcast(qtab))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("adc", adcSum(col("codes"), col("dtab"), m, k))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col(idCol).as("neighbor_id"),
        col("adc").cast("double").as("adc"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Per-query ADC lookup tables: distance of each query subvector to
    * every codeword, flattened per query into an array laid out slot =
    * subspace·k + code. (query_id, dtab array<decimal>). */
  private def pqQueryTables(
      queries: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int, k: Int): DataFrame =
    subvectors(queries, idCol, vecCol, dim, m)
      .join(broadcast(codebooks), Seq("subspace"))
      .select(col("__vid").as("query_id"),
        (col("subspace") * k + col("code")).as("slot"),
        round(euclideanSq(col("sv"), col("cw")), 8).cast("decimal(28,10)").as("pd"))
      .groupBy(col("query_id"))
      .agg(transform(array_sort(collect_list(struct(col("slot"), col("pd")))),
        s => s.getField("pd")).as("dtab"))

  /** ADC score of one encoded row against one query table: m array
    * lookups folded as an exact decimal sum. */
  private def adcSum(codes: org.apache.spark.sql.Column, dtab: org.apache.spark.sql.Column, m: Int, k: Int) =
    aggregate(
      zip_with(codes, sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(dtab, (s * k + c + 1).cast("int"))),
      lit(0).cast("decimal(28,10)"),
      (acc, x) => (acc + x).cast("decimal(28,10)"))

  /** IVF-PQ: the composed big-corpus serving architecture (what a
    * FAISS-style store runs at the 100 TB point). The IVF coarse
    * quantizer prunes each query to its `nprobe` nearest cells — the
    * scan touches only those cells' rows — and rows inside a probed
    * cell are scored by PQ ADC lookups, never by vector math. The
    * serving inputs are BOTH index-sized: (cell_id, codes) rows at m
    * ints per vector, and m·k-row codebooks + numCells-row centroids
    * broadcast; with the codes table written partitioned/bucketed by
    * cell_id the probe join prunes at file level exactly like
    * [[queryLshIndex]]. Cells seed from id < numCells (the [[ivfTopK]]
    * convention, so the oracle can replay them); pass refined
    * centroids through [[kmeansCentroids]]-trained codebooks for the
    * production path. nprobe = numCells degenerates to exactly
    * [[pqTopK]] (spec-pinned). Returns (query_id, rk, neighbor_id,
    * adc). */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      numCells: Int,
      nprobe: Int,
      topK: Int
  ): DataFrame =
    ivfPqTopKWithCentroids(corpus, queries, idCol, vecCol, codebooks, dim, m, k,
      seedCentroids(corpus, idCol, vecCol, numCells), nprobe, topK)

  /** IVF-PQ against a caller-supplied coarse-centroid table
    * `(cell_id, cent_vec)` — in particular [[kmeansCentroids]] output,
    * the production FAISS shape (train the coarse quantizer offline,
    * serve with the same probe/ADC machinery). [[ivfPqTopK]]'s seed
    * convention is the `id < numCells` special case of this. */
  def ivfPqTopKWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    val cent = normCentroids(centroids)
    val codes = cellCodes(corpus, idCol, vecCol, codebooks, cent, dim, m)
    val probes = probeCells(queries, idCol, vecCol, cent, nprobe)
    adcServe(codes, probes, pqQueryTables(queries, idCol, vecCol, codebooks, dim, m, k),
      idCol, m, k, topK)
  }

  private def seedCentroids(corpus: DataFrame, idCol: String, vecCol: String, numCells: Int): DataFrame =
    corpus.filter(col(idCol) < numCells)
      .select(col(idCol).cast("long").as("cell_id"), col(vecCol).as("cent_vec"))

  /** Canonical centroid shape for probing/assignment: (cell_id LONG,
    * cent_vec, cent_nrm) — accepts any (cell_id, cent_vec, ...) frame
    * (seed slices, kmeansCentroids output) and recomputes the norm so
    * callers never have to carry it. */
  private def normCentroids(centroids: DataFrame): DataFrame =
    centroids.select(col("cell_id").cast("long").as("cell_id"),
      transform(col("cent_vec"), x => x.cast("double")).as("cent_vec"))
      .withColumn("cent_nrm", norm(col("cent_vec")))

  /** Encoded corpus with its owning coarse cell: argmax-cosine cell as
    * a partial aggregation (shuffle carries one row per vector, ties
    * to the highest cell), joined with the PQ codes — the exchanges of
    * the two aggregations are reused by the join, so the corpus is
    * never shuffled an extra time. */
  private def cellCodes(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, cent: DataFrame, dim: Int, m: Int): DataFrame = {
    val assigned = corpus
      .select(col(idCol).cast("long").as("__avid"), col(vecCol).as("c_vec"), norm(col(vecCol)).as("c_nrm"))
      .join(broadcast(cent))
      .withColumn("cs", dot(col("c_vec"), col("cent_vec")) / (col("c_nrm") * col("cent_nrm")))
      .groupBy(col("__avid"))
      .agg(max_by(col("cell_id"), struct(col("cs"), col("cell_id"))).as("cell_id"))
      .select(col("__avid"), col("cell_id"))
    pqEncode(corpus, idCol, vecCol, codebooks, dim, m)
      .join(assigned, col(idCol) === col("__avid")).drop("__avid")
  }

  /** Top-nprobe cells per query by cosine (centroids broadcast). */
  private def probeCells(
      queries: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, nprobe: Int): DataFrame = {
    val wp = Window.partitionBy(col("query_id")).orderBy(col("ps").desc, col("cell_id").desc)
    queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("q_vec"), norm(col(vecCol)).as("q_nrm"))
      .join(broadcast(cent))
      .withColumn("ps", dot(col("q_vec"), col("cent_vec")) / (col("q_nrm") * col("cent_nrm")))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cell_id"))
  }

  /** The ADC scoring tail shared by [[ivfPqTopK]] and
    * [[queryPqIndex]]: probed (cell, query-table) pairs broadcast
    * against the codes relation, decimal ADC fold, per-query top-k. */
  private def adcServe(
      codes: DataFrame, probes: DataFrame, qtab: DataFrame,
      idCol: String, m: Int, k: Int, topK: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col(idCol))
    codes
      .join(broadcast(probes.join(broadcast(qtab), Seq("query_id"))), Seq("cell_id"))
      .filter(col("query_id") =!= col(idCol))
      .withColumn("adc", adcSum(col("codes"), col("dtab"), m, k))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("query_id"), col("rk"), col(idCol).as("neighbor_id"),
        col("adc").cast("double").as("adc"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Persist an IVF-PQ serving index: one row per vector with its
    * coarse cell and PQ codes, hash-bucketed BY cell_id, plus the
    * centroid mini-table (`<table>_centroids`) so serving is
    * self-contained. The raw vectors are NOT stored — the index is
    * ~dim·4/m× smaller than the corpus at rest, and [[queryPqIndex]]
    * reads only the probed cells' bucket FILES on top of that
    * (SelectedBucketsCount pruning, same mechanism as
    * [[queryLshIndex]]). Build once, serve many. */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      table: String,
      dim: Int,
      m: Int,
      numCells: Int,
      numBuckets: Int = 32,
      centroids: Option[DataFrame] = None
  ): Unit = {
    val cent = normCentroids(centroids.getOrElse(seedCentroids(corpus, idCol, vecCol, numCells)))
    graft.io.Sinks.bucketedTable(
      cellCodes(corpus, idCol, vecCol, codebooks, cent, dim, m),
      table, Seq("cell_id"), numBuckets)
    graft.io.Sinks.clearManagedTable(corpus.sparkSession, s"${table}_centroids")
    cent.write.mode("overwrite").saveAsTable(s"${table}_centroids")
  }

  /** Serve top-k ANN from a persisted [[buildPqIndex]] table: probes
    * come from the stored centroid mini-table, the probed cell ids
    * (≤ |queries|·nprobe — the one deliberate driver-side collect) are
    * pushed as an IN filter so the bucketed scan prunes to the probed
    * cells' files, and scoring is the same decimal ADC as
    * [[ivfPqTopK]] — results are identical to the direct path by
    * construction (spec-pinned). */
  def queryPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    val cent = spark.table(s"${table}_centroids")
    val probes = probeCells(queries, idCol, vecCol, cent, nprobe).localCheckpoint(true)
    val probedCells: Seq[Long] = probes.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = spark.table(table).filter(col("cell_id").isin(probedCells: _*))
    adcServe(codes, probes, pqQueryTables(queries, idCol, vecCol, codebooks, dim, m, k),
      idCol, m, k, topK)
  }

  /** Incremental UPSERT of new vectors into a persisted IVF-PQ index
    * kept as a [[graft.io.SnapshotTables]] table partitioned BY
    * cell_id — the FAISS add-to-index contract: the quantizers
    * (centroids + codebooks) are FROZEN between retrains, new vectors
    * are encoded with the existing ones and merged by id. The centroid
    * mini-table commits alongside on first call (`<table>_centroids`)
    * so serving stays self-contained; re-ingesting a vector replaces
    * its row (idempotent under replay — the streaming-sink contract).
    * Pass `centroids` on the FIRST call to seed the quantizer
    * explicitly; later calls always reuse the persisted one. */
  def upsertPqIndex(
      tables: graft.io.SnapshotTables,
      table: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      numCells: Int,
      centroids: Option[DataFrame] = None
  ): Unit = {
    val centTable = s"${table}_centroids"
    val cent =
      if (tables.currentVersion(centTable) > 0) tables.read(centTable)
      else {
        val c = normCentroids(centroids.getOrElse(seedCentroids(batch, idCol, vecCol, numCells)))
        tables.overwriteTable(c, centTable)
        tables.read(centTable)
      }
    tables.merge(table, cellCodes(batch, idCol, vecCol, codebooks, cent, dim, m),
      keyCols = Seq(idCol), partitionCols = Seq("cell_id"))
  }

  /** Serve top-k ANN from an [[upsertPqIndex]]-maintained snapshot
    * index: probes from the persisted centroid mini-table, probed cell
    * ids pushed as an IN filter pruning to partition DIRECTORIES, and
    * the same decimal ADC as [[queryPqIndex]] — identical results to
    * the bucketed-table serving path by construction. */
  def queryPqIndexSnapshot(
      tables: graft.io.SnapshotTables,
      table: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int,
      k: Int,
      nprobe: Int,
      topK: Int
  ): DataFrame = {
    val cent = tables.read(s"${table}_centroids")
    val probes = probeCells(queries, idCol, vecCol, cent, nprobe).localCheckpoint(true)
    val probedCells: Seq[Long] = probes.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = tables.read(table).filter(col("cell_id").isin(probedCells: _*))
    adcServe(codes, probes, pqQueryTables(queries, idCol, vecCol, codebooks, dim, m, k),
      idCol, m, k, topK)
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    * compare pairs ONLY within a cluster, and drop every document that
    * has a higher-similarity-than-`threshold` neighbor with a smaller
    * id in its cluster (the standard greedy keep-first rule — the
    * survivor set is exactly the ids never appearing as the larger
    * side of a qualifying pair).
    *
    * Scale shape: centroid assignment is a broadcast-join scan-local
    * argmax (one shuffle of (id, cell) pairs for the partial-agg
    * argmax); candidate pairs form only inside a cell via an equi-join
    * on `cell_id`, so pair volume is Σ n_c² over cells — the whole
    * design point of SemDeDup is that `numCells` grows with the corpus
    * (`numCells ≈ n / targetClusterSize`, same sizing rule as the LSH
    * `bits` knob) so per-cell occupancy, and therefore the quadratic
    * term, stays bounded. No all-pairs shape anywhere: the join's key
    * distribution is the cluster histogram, and AQE's skew handling
    * splits any hot cell's join work.
    *
    * `centroids` defaults to the deterministic seed slice (ids < k,
    * [[ivfTopK]]'s convention — SQL-replayable, so the corpus entry is
    * exact-oracle); production passes [[kmeansCentroids]] output for a
    * refined quantizer, identical plan shape.
    *
    * Returns one row per document: (id, cell_id, kept) ordered by id.
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int,
      threshold: Double,
      centroids: Option[DataFrame] = None
  ): DataFrame = {
    val vecs = corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val cent = normCentroids(centroids.getOrElse(seedCentroids(corpus, idCol, vecCol, numCells)))
    // argmax-cosine cell as a partial aggregation; ties go to the
    // higher cell id (max over (score, cell) struct) — same decision
    // rule as every IVF path in this file, replayed in the oracle
    val assigned = vecs
      .join(broadcast(cent))
      .withColumn("cs", dot(col("v"), col("cent_vec")) / (col("nrm") * col("cent_nrm")))
      .groupBy(col("id"))
      .agg(max_by(col("cell_id"), struct(col("cs"), col("cell_id"))).as("cell_id"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      // three consumers below (both pair sides + the output join):
      // materialize the assignment once instead of re-running the
      // corpus scan + argmax per consumer
      .localCheckpoint(true)
    // within-cell candidate pairs (a < b): the only quadratic term,
    // bounded by cell occupancy; vectors ride the join sides directly
    // because both sides are already the assigned frame
    val a = assigned.select(col("cell_id"), col("id").as("a"), col("v").as("a_v"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("cell_id"), col("id").as("b"), col("v").as("b_v"), col("nrm").as("b_nrm"))
    val dropped = a.join(b, Seq("cell_id"))
      .filter(col("a") < col("b"))
      .filter(dot(col("a_v"), col("b_v")) / (col("a_nrm") * col("b_nrm")) > threshold)
      .select(col("b").as("id"))
      .distinct()
    assigned
      .join(dropped.withColumn("__dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell_id"), coalesce(!col("__dropped"), lit(true)).as("kept"))
      .orderBy(col("id"))
  }

  /** MMR-diversified re-rank of an ANN candidate list (Carbonell &
    * Goldstein 1998): from each query's fetched candidates, greedily
    * select `selectK` maximizing λ·rel − (1−λ)·max-cosine-to-selected —
    * the diversification pass retrieval pipelines run after ANN so
    * near-duplicate hits don't crowd out coverage.
    *
    * `candidates` is any (query_id, neighbor_id, score) frame — the
    * output shape of [[bruteForceTopK]] / [[lshTopK]] / [[ivfPqTopK]] —
    * and `vectors` supplies the candidate embeddings. Shape: one join
    * to attach vectors (broadcast when the candidate list is small, as
    * a re-rank input always is), one partial-agg groupBy collecting
    * each query's ≤fetchK candidates, and the greedy loop runs
    * executor-local per query over that bounded group (fetchK·dim
    * buffer, O(fetchK²·selectK) finish) — never driver-side, never
    * corpus-sized. Selection is canonicalized and tie-broken on id, so
    * it is independent of partitioning and replays exactly in the
    * DuckDB oracle (q116 unrolls the same greedy steps).
    *
    * Output: (query_id, rk, neighbor_id, mmr) ordered. */
  def mmrRerank(
      candidates: DataFrame,
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      selectK: Int,
      lambda: Double
  ): DataFrame = {
    import graft.functions.{MmrAggregator, MmrCand}
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val vecs = vectors.select(col(idCol).cast("long").as("neighbor_id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))
    val agg = udaf(new MmrAggregator(selectK, lambda), ExpressionEncoder[MmrCand]())
    candidates
      .join(vecs, "neighbor_id")
      .groupBy(col("query_id"))
      .agg(agg(col("neighbor_id"), col("score"), col("__v")).as("sel"))
      .select(col("query_id"), explode(col("sel")).as("s"))
      .select(col("query_id"), col("s.rk").as("rk"), col("s.id").as("neighbor_id"),
        col("s.mmr").as("mmr")) // exact-decimal objective emitted as-is; re-rounding would reintroduce the .5-boundary engine split
      .orderBy(col("query_id"), col("rk"))
  }

  /** Mean squared quantization error of `codebooks` over the corpus —
    * the audit number PQ training monotonically improves (same role as
    * [[kmeansInertia]] for the coarse quantizer). */
  def pqQuantError(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      dim: Int,
      m: Int
  ): Double = {
    val asn = assignCodes(subvectors(corpus, idCol, vecCol, dim, m), codebooks)
      .join(broadcast(codebooks), Seq("subspace", "code"))
      .select(euclideanSq(col("sv"), col("cw")).as("e"))
    asn.agg(avg(round(col("e"), 8).cast("decimal(28,10)")).cast("double")).head.getDouble(0)
  }
}
