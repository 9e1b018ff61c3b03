package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data curation, each designed
  * around Spark's shuffle model:
  *
  *  - exact: one hash-partitioned aggregation on the normalized key
  *    (map-side partial aggregation keeps the shuffle at one row per
  *    distinct key per mapper)
  *  - MinHash+LSH: signatures are a pure per-row projection (no
  *    shuffle); candidate generation shuffles only (band, bucket)
  *    pairs — never all-pairs — so cost scales with collisions, not n²
  *  - SimHash: explode + one aggregation, again partial-agg friendly
  *
  * Hashes are md5-based (see [[graft.functions.TextFunctions.hash32]])
  * so every operator is oracle-verifiable cross-engine.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized text. Deterministic
    * representative selection (unlike `dropDuplicates`, which keeps an
    * arbitrary row and would not be oracle-checkable).
    *
    * Groups on md5(normalized text), not the text itself: the shuffle
    * key is 16 bytes instead of the document (~20× narrower shuffle at
    * corpus scale, and map-side partial aggregation hashes fixed-width
    * keys). md5 collisions are the standard content-hash dedup trade
    * (~n²/2¹²⁸ — negligible at any corpus size). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(lower(trim(col(textCol)))).as("norm_digest"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"))
      .orderBy(col("keeper_id"))

  /** Exact dedup on arbitrary key columns (representative = min id). */
  def exactOnKeys(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_id"))

  /** MinHash signatures: `numHashes` (≤8) sliced-md5 minima over word
    * 3-shingles. One md5 digest per shingle, sliced into 8-hex-char
    * windows (not one digest per hash index).
    *
    * Shape: explode(shingles) → md5 per shingle ROW → grouped min per
    * slice. The explode is deliberate — an array-transform variant
    * computes each digest `numHashes`× because CollapseProject inlines
    * the digest array into every slice expression (measured 8× slower
    * at sf0.1). With explode the digest is a per-row column evaluated
    * once, and partial aggregation combines map-side to one row per
    * doc before any shuffle, so shuffle volume is |docs|, not
    * |shingles|. Docs shorter than the shingle width produce no rows. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, numHashes: Int = 8): DataFrame = {
    require(numHashes >= 1 && numHashes <= 8, "sliced minhash supports 1-8 hashes")
    val sh = wordShingles(tokens(col(textCol)))
    val mins = (0 until numHashes).map(j => min(substring(col("h"), 1 + 3 * j, 8)).as(s"mh_$j"))
    df.select(col(idCol), explode(sh).as("s"))
      .select(col(idCol), md5(col("s")).as("h"))
      .groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
  }

  /** LSH candidate pairs: split the signature into `bands`, bucket each
    * band by md5 of its concatenated rows, and emit distinct id pairs
    * sharing any bucket. The self-join shuffles on (band, bucket), so
    * moderately skewed buckets are handled by AQE skew-join at scale.
    *
    * `maxBucketSize` guards against pathological buckets (near-empty or
    * boilerplate docs collapsing millions of ids into one bucket, which
    * would emit |bucket|²/2 pairs): buckets above the cap are dropped
    * before the join — their members are by construction near-identical
    * to a huge cluster, better handled by the exact-dedup pass.
    *
    * The cap is NEVER silent: pass `dropMetrics` (an [[org.apache.spark
    * .sql.Observation]]) and the run reports `dropped_buckets`,
    * `dropped_members` and `dropped_candidate_pairs` (Σ n·(n−1)/2 over
    * dropped buckets) — the metrics ride the job itself (a
    * CollectMetrics node over the hot-bucket relation, zero extra
    * scans), so at 100 TB an operator can ALWAYS measure what the cap
    * cost. Read them defaulting absent to zero: when NOTHING exceeded
    * the cap, AQE eliminates the empty anti-join build side —
    * CollectMetrics node included — so absent metrics mean exactly
    * "zero dropped" (the node can only vanish when the hot relation
    * proved empty):
    * {{{
    *   val obs = Observation()
    *   val pairs = Dedup.lshCandidatePairs(df, "id", "text",
    *     maxBucketSize = Some(64), dropMetrics = Some(obs))
    *   pairs.count()
    *   obs.getAsJava.getOrDefault("dropped_candidate_pairs", 0L)
    * }}}
    * For an exact per-bucket audit (which buckets, how big), use
    * [[lshDroppedBuckets]] — one extra aggregation pass, oracle-exact. */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Option[Int] = None,
      dropMetrics: Option[org.apache.spark.sql.Observation] = None
  ): DataFrame = {
    // materialize the banded relation ONCE: the self-join otherwise
    // executes the whole minhash pipeline (scan → shingle explode →
    // md5 → two-stage agg) per join side — aliased subtrees defeat
    // ReuseExchange (verified in the physical plan: two full Scan→
    // Generate→Aggregate chains). |banded| = |docs|·bands small rows;
    // at cluster scale this is the relation you'd persist anyway.
    val exploded = bandBuckets(df, idCol, textCol, numHashes, bands).localCheckpoint(true)
    val banded = maxBucketSize match {
      case Some(cap) =>
        // hot buckets are rare by definition ⇒ tiny broadcast anti-join
        // (broadcasting the small-bucket side would ship ~every bucket)
        val hot0 = exploded.groupBy(col("band_idx"), col("bucket"))
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > cap)
        // drop accounting rides the job's own plan: CollectMetrics over
        // the hot relation — no extra scan, no silent cap
        val hot = dropMetrics.fold(hot0)(obs => hot0.observe(obs,
          count(lit(1)).as("dropped_buckets"),
          coalesce(sum(col("__bn")), lit(0L)).as("dropped_members"),
          coalesce(sum(col("__bn") * (col("__bn") - 1) / 2), lit(0.0)).cast("long")
            .as("dropped_candidate_pairs")))
          .select(col("band_idx"), col("bucket"))
        exploded.join(broadcast(hot), Seq("band_idx", "bucket"), "left_anti")
      case None => exploded
    }
    val l = banded.select(col(idCol).as("a"), col("band_idx"), col("bucket"))
    val r = banded.select(col(idCol).as("b"), col("band_idx"), col("bucket"))
    l.join(r, Seq("band_idx", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
      .orderBy(col("a"), col("b"))
  }

  /** Exact audit of [[lshCandidatePairs]]'s hot-bucket cap: the
    * buckets a given `maxBucketSize` drops, with member and candidate-
    * pair counts — (band_idx, bucket, members, candidate_pairs),
    * totally ordered. One aggregation over the banded relation
    * (|docs|·bands rows, partial-agg combined map-side); at 100 TB
    * this is the report a curation run files next to its dedup stats
    * so the cap's cost is a number, never a guess. */
  def lshDroppedBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 8,
      bands: Int = 4,
      maxBucketSize: Int = 0
  ): DataFrame = {
    require(maxBucketSize > 0, "maxBucketSize must be positive")
    bandBuckets(df, idCol, textCol, numHashes, bands)
      .groupBy(col("band_idx"), col("bucket"))
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBucketSize)
      .select(col("band_idx"), col("bucket"), col("members"),
        (col("members") * (col("members") - 1) / 2).cast("long").as("candidate_pairs"))
      .orderBy(col("band_idx"), col("bucket"))
  }

  /** Banded LSH bucket ids per document — the unit of LSH candidate
    * generation and of the streaming near-dup index: the MinHash
    * signature splits into `bands` of numHashes/bands rows, each band
    * hashed to one bucket id. Two docs sharing ANY band bucket are
    * near-dup candidates (standard banding trade: more bands ⇒ higher
    * recall at a lower effective Jaccard threshold). Output: (id,
    * band_idx, bucket), |docs|·bands rows; docs shorter than the
    * shingle width emit nothing. */
  def bandBuckets(df: DataFrame, idCol: String, textCol: String, numHashes: Int = 8, bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, numHashes)
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band_idx"), md5(concat(parts: _*)).as("bucket")).as(s"band_$b")
    }
    sigs
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands).map(b => col(s"band_$b")): _*)).as("band"))
      .select(col(idCol), col("band.band_idx"), col("band.bucket"))
  }

  /** Incremental near-exact dedup of a NEW batch against a persisted
    * signature index — the pattern a growing corpus actually runs:
    * yesterday's corpus is represented only by its MinHash signature
    * table (16 bytes × numHashes per doc, not the documents), and
    * today's batch keeps one representative per signature that is not
    * already indexed.
    *
    * `signatureIndex` must expose columns mh_0..mh_{numHashes-1}
    * (exactly [[minhashSignatures]]' output minus the id). Shape: batch
    * signatures are a scan-local projection + one partial-agg groupBy
    * (one row per distinct batch signature), then ONE anti-join against
    * the index keyed on the signature columns. Aggregate-then-anti, so
    * the join's left side is |distinct batch sigs|, not |batch|. At
    * scale, store the index bucketed by signature ([[graft.io.Sinks
    * .bucketedTable]]) and the index side of the anti-join needs no
    * shuffle at all.
    *
    * Docs shorter than the shingle width carry no signature and are
    * not emitted (route them through [[exactOnKeys]] on a content
    * digest instead — signature dedup is meaningless for 2-token
    * docs). Output: (keeper_id, sig_digest, n_copies) per fresh
    * signature. */
  def incrementalBySignature(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      signatureIndex: DataFrame,
      numHashes: Int = 8
  ): DataFrame = {
    val sigCols = (0 until numHashes).map(j => col(s"mh_$j"))
    val grouped = minhashSignatures(batch, idCol, textCol, numHashes)
      .groupBy(sigCols: _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))
    grouped
      .join(signatureIndex.select(sigCols: _*).distinct(),
        (0 until numHashes).map(j => s"mh_$j"), "left_anti")
      .select(
        col("keeper_id"),
        md5(concat_ws("|", sigCols: _*)).as("sig_digest"),
        col("n_copies")
      )
      .orderBy(col("keeper_id"))
  }

  /** 16-bit SimHash over whitespace tokens (multiset semantics — a
    * token contributes once per occurrence). One explode + one
    * aggregation. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("w"))
    val hashed = tok.select(col(idCol), hash32(col("w")).as("hv"))
    val bitSums = (0 until 16).map { b =>
      sum(when(shiftright(col("hv"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s_$b")
    }
    val agg = hashed.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 16)
      .map(b => when(col(s"s_$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    agg.select(col(idCol), sim.as("simhash")).orderBy(col(idCol))
  }

  /** Sorted-neighborhood near-dup candidate pairs — the classic
    * blocking-family alternative to MinHash-LSH ([[lshCandidatePairs]]):
    * sort the corpus by a canonical signature ([[simhash16]], whose
    * locality puts similar docs near each other — exact duplicates are
    * always adjacent), then emit each row paired with its next `window`
    * successors in that order. No bucket self-join, so there is no
    * hot-bucket blowup to cap: candidate count is EXACTLY
    * |docs|·window, whatever the data looks like — the property that
    * makes sorted-neighborhood the safe choice on boilerplate-heavy
    * corpora where LSH buckets explode.
    *
    * Scale shape: the sort is windowed inside 2^`blockBits` signature-
    * prefix blocks (one shuffle on the block key; each block sorts
    * independently — never a single global-order partition). Pairs
    * whose members straddle a block boundary are missed by
    * construction (standard blocking trade-off; multiple passes with
    * rotated/permuted signature bits recover them — run again with a
    * different `blockBits` split if recall matters more than cost).
    * Each pair carries the signature Hamming distance;
    * `maxHamming` filters candidates to likely near-dups in the same
    * pass (feed survivors to [[jaccard]] for exact verification).
    *
    * Returns (a, b, hamming) with a < b, deterministic: the
    * neighborhood order is (simhash, id) — ties broken by id — and
    * every step is replayable in engine-independent SQL. */
  def sortedNeighborPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 3,
      blockBits: Int = 4,
      maxHamming: Option[Int] = None
  ): DataFrame = {
    require(window >= 1 && blockBits >= 0 && blockBits <= 16)
    val w = Window.partitionBy(col("block")).orderBy(col("simhash"), col(idCol))
    val sig = simhash16(df, idCol, textCol)
      .withColumn("block", shiftright(col("simhash"), 16 - blockBits).cast("int"))
    // all `window` leads computed in ONE window pass (a generator may
    // not contain window expressions, so the array is projected first
    // and exploded in a separate step)
    val leads = (1 to window).map(i => struct(
      lead(col(idCol), i).over(w).as("nb_id"),
      lead(col("simhash"), i).over(w).as("nb_sig")))
    val pairs = sig
      .select(col(idCol).as("l_id"), col("simhash").as("l_sig"),
        array(leads: _*).as("nbs"))
      .select(col("l_id"), col("l_sig"), explode(col("nbs")).as("nb"))
      .filter(col("nb.nb_id").isNotNull)
      .select(
        least(col("l_id"), col("nb.nb_id")).as("a"),
        greatest(col("l_id"), col("nb.nb_id")).as("b"),
        bit_count(col("l_sig").bitwiseXOR(col("nb.nb_sig"))).cast("int").as("hamming"))
    maxHamming.map(h => pairs.filter(col("hamming") <= h)).getOrElse(pairs)
  }

  /** Edit-distance verification over BLOCKED candidate pairs — the
    * character-level verifier next to [[jaccard]]'s token-set one
    * (catches near-dups token methods miss: small in-word edits, OCR
    * noise). Blocking first: pairs form only inside a (lang, length
    * bucket) block — a defensible near-dup prior since edit distance
    * ≥ length difference — so the quadratic term is per-block, never
    * corpus². Then codegen'd `levenshtein` on each pair and a
    * normalized similarity 1 − dist/max(len); everything is Spark
    * built-ins, no UDF. Output: (a, b, dist, sim) for pairs at or
    * above `minSim`, totally ordered.
    *
    * `maxBlockSize` is the scale guard (the LSH hot-bucket cap's
    * sibling, proven necessary by the 10× scale smoke: block pair
    * counts grow quadratically in block size, and levenshtein is the
    * most expensive verifier in the engine): (lang, length-bucket)
    * blocks above the cap are DROPPED whole before the join — a block
    * that large means thousands of same-language same-length docs,
    * which the cheap LSH/minhash passes already cover; this verifier
    * exists for the small candidate tail. Hot blocks are rare by
    * definition ⇒ tiny broadcast anti-join, same shape as
    * [[lshCandidatePairs]]'s cap — and like that cap it is never
    * silent: `dropMetrics` reports `dropped_blocks`, `dropped_members`
    * and `dropped_candidate_pairs` on the job itself (absent = zero
    * dropped, same AQE contract as the LSH cap's metrics), and
    * [[editDistanceDroppedBlocks]] is the exact per-block audit. */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      lenCol: String,
      lenBucket: Int = 25,
      minSim: Double = 0.5,
      maxBlockSize: Option[Int] = None,
      dropMetrics: Option[org.apache.spark.sql.Observation] = None
  ): DataFrame = {
    require(lenBucket >= 1, "lenBucket must be positive")
    val all = df.select(col(idCol).as("eid"), col(textCol).as("etxt"),
      col(langCol).as("elang"), (col(lenCol) / lenBucket).cast("long").as("eblk"))
    val base = maxBlockSize match {
      case Some(cap) =>
        val hot0 = all.groupBy(col("elang"), col("eblk"))
          .agg(count(lit(1)).as("__bn")).filter(col("__bn") > cap)
        val hot = dropMetrics.fold(hot0)(obs => hot0.observe(obs,
          count(lit(1)).as("dropped_blocks"),
          coalesce(sum(col("__bn")), lit(0L)).as("dropped_members"),
          coalesce(sum(col("__bn") * (col("__bn") - 1) / 2), lit(0.0)).cast("long")
            .as("dropped_candidate_pairs")))
          .select(col("elang"), col("eblk"))
        all.join(broadcast(hot), Seq("elang", "eblk"), "left_anti")
      case None => all
    }
    val l = base.select(col("eid").as("a"), col("etxt").as("a_txt"),
      col("elang").as("lang"), col("eblk").as("blk"))
    val r = base.select(col("eid").as("b"), col("etxt").as("b_txt"),
      col("elang").as("lang"), col("eblk").as("blk"))
    l.join(r, Seq("lang", "blk"))
      .filter(col("a") < col("b"))
      .withColumn("dist", levenshtein(col("a_txt"), col("b_txt")))
      .withColumn("max_len", greatest(length(col("a_txt")), length(col("b_txt"))))
      // sim kept integer-derivable: max_len rides along so downstream
      // thresholds/bands can use exact integer arithmetic
      // ((max_len-dist)*k DIV max_len) instead of float division —
      // float banding is where engines disagree on ties
      .withColumn("sim", round(lit(1.0) - col("dist") / col("max_len"), 6))
      .filter(col("dist") <= (lit(1.0) - lit(minSim)) * col("max_len"))
      .select(col("a"), col("b"), col("dist"), col("max_len"), col("sim"))
      .orderBy(col("a"), col("b"))
  }

  /** Exact audit of [[editDistancePairs]]'s block cap: the (lang,
    * length-bucket) blocks a given `maxBlockSize` drops, with member
    * and candidate-pair counts — (lang, len_block, members,
    * candidate_pairs), totally ordered. [[lshDroppedBuckets]]' sibling. */
  def editDistanceDroppedBlocks(
      df: DataFrame,
      idCol: String,
      langCol: String,
      lenCol: String,
      lenBucket: Int = 25,
      maxBlockSize: Int = 0
  ): DataFrame = {
    require(lenBucket >= 1, "lenBucket must be positive")
    require(maxBlockSize > 0, "maxBlockSize must be positive")
    df.select(col(langCol).as("lang"), (col(lenCol) / lenBucket).cast("long").as("len_block"))
      .groupBy(col("lang"), col("len_block"))
      .agg(count(lit(1)).as("members"))
      .filter(col("members") > maxBlockSize)
      .select(col("lang"), col("len_block"), col("members"),
        (col("members") * (col("members") - 1) / 2).cast("long").as("candidate_pairs"))
      .orderBy(col("lang"), col("len_block"))
  }

  /** Edit-distance verification of an EXISTING candidate-pair set —
    * the form the verifier takes in a production pipeline, where the
    * pairs come from a cheap blocking pass (LSH collisions,
    * [[sortedNeighborPairs]] survivors) rather than from re-blocking
    * the corpus. Cost is exactly |pairs| levenshteins — linear in the
    * candidate volume whatever the corpus size, which is the property
    * the blocked form ([[editDistancePairs]]) can only approximate
    * with its `maxBlockSize` guard. `pairs` must expose id columns
    * a, b; output is (a, b, dist, max_len, sim) for pairs at or above
    * `minSim`, totally ordered — the same contract as the blocked
    * form, so the two compose with the same downstream banding. */
  def editDistanceVerify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      minSim: Double = 0.0
  ): DataFrame = {
    val docs = df.select(col(idCol).as("vid"), col(textCol).as("vtxt"))
    pairs
      .select(col("a"), col("b"))
      .join(docs.select(col("vid").as("a"), col("vtxt").as("a_txt")), Seq("a"))
      .join(docs.select(col("vid").as("b"), col("vtxt").as("b_txt")), Seq("b"))
      .withColumn("dist", levenshtein(col("a_txt"), col("b_txt")))
      .withColumn("max_len", greatest(length(col("a_txt")), length(col("b_txt"))))
      .withColumn("sim", round(lit(1.0) - col("dist") / col("max_len"), 6))
      .filter(col("dist") <= (lit(1.0) - lit(minSim)) * col("max_len"))
      .select(col("a"), col("b"), col("dist"), col("max_len"), col("sim"))
      .orderBy(col("a"), col("b"))
  }

  /** Exact n-gram (token-set) Jaccard between paired docs. `pairs` must
    * expose columns a, b (ids). Distinct-token semantics. */
  def jaccard(df: DataFrame, idCol: String, textCol: String, pairs: DataFrame): DataFrame = {
    val docs = df.select(col(idCol).as("jid"), array_distinct(tokens(col(textCol))).as("toks"))
    pairs
      .join(docs.withColumnRenamed("jid", "a_id").withColumnRenamed("toks", "a_toks"), col("a") === col("a_id"))
      .join(docs.withColumnRenamed("jid", "b_id").withColumnRenamed("toks", "b_toks"), col("b") === col("b_id"))
      .select(
        col("a"),
        col("b"),
        round(
          size(array_intersect(col("a_toks"), col("b_toks"))).cast("double") /
            size(array_union(col("a_toks"), col("b_toks"))),
          6
        ).as("jaccard")
      )
      .orderBy(col("a"), col("b"))
  }

  /** Near-dup clusters from candidate pairs: connected components via
    * iterative min-label propagation (the scalable alternative to a
    * driver-side union-find — each iteration is one hash join + one
    * partial-aggregated groupBy, so it runs on any |pairs|; iterations
    * needed = graph diameter, which for near-dup graphs is tiny).
    *
    * Returns (id, comp) where comp = the minimum id reachable from id.
    * Convergence is detected by the monotonically-decreasing label sum
    * — one scalar action per iteration, no row collect. Lineage is cut
    * per iteration via [[graft.core.Lineage.cut]]: executor-local by
    * default, durable when `checkpointDir` is given — on a long
    * 1000-executor run a single executor loss otherwise restarts the
    * whole iteration chain.
    */
  def nearDupClusters(
      pairs: DataFrame,
      aCol: String = "a",
      bCol: String = "b",
      maxIter: Int = 20,
      checkpointDir: Option[String] = None
  ): DataFrame = {
    import org.apache.spark.sql.Observation
    // the convergence metric rides each checkpoint's own materialization
    // job via observe — one Spark job per round, not two (the separate
    // label-sum scan measurably dominated fixture-scale latency; at
    // cluster scale it was a full extra pass per round)
    def sumOf(obs: Observation): Long = obs.get("s") match {
      case null => 0L // sum over an empty frame observes null
      case l: java.lang.Long => l.longValue
      case other => other.toString.toLong
    }
    // rounds run in the caller's session at its configured width: AQE
    // coalesces each round's tiny shuffles to the bytes they carry, and
    // a session clone (to narrow the width) would give every call a
    // fresh task class loader, recompiling the rounds' generated code
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true)
    val obs0 = Observation()
    var labels = graft.core.Lineage.cut(
      edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("comp"))
        .observe(obs0, sum(col("comp")).as("s")),
      checkpointDir)
    var prevSum = sumOf(obs0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val prop = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
      // checkpoint before the self-join: fresh attributes sidestep
      // Spark 4's constraint rewrite over self-joined Union plans, and
      // the per-iteration lineage stays O(1) either way
      val obs = Observation()
      val merged = graft.core.Lineage.cut(
        labels.union(prop).groupBy(col("id")).agg(min(col("comp")).as("comp"))
          .observe(obs, sum(col("comp")).as("s")),
        checkpointDir)
      // pointer doubling: also follow comp -> comp(comp), halving the
      // remaining diameter each round — O(log d) iterations instead of
      // O(d), which is what makes long chains affordable (every label
      // value is itself a node id, so the self-join always resolves)
      val next = merged
        .join(
          merged.select(col("id").as("cid"), col("comp").as("ccomp")),
          col("comp") === col("cid"),
          "left"
        )
        .select(col("id"), least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"))
      // convergence at the fixpoint: prop adds nothing, so merged ==
      // labels and the observed sum stops changing; the doubling join
      // above only executes inside the next iteration's checkpoint
      val s = sumOf(obs)
      converged = s == prevSum
      prevSum = s
      labels = next
      iter += 1
    }
    // materialize the final frame: its plan still references the last
    // round's doubling join
    graft.core.Lineage.cut(labels, checkpointDir)
  }

  /** Rolling-style positional document fingerprint:
    * sum((pos+1) * hash32(token)) mod 2^31 — order-sensitive, so
    * reordered documents fingerprint differently while duplicated text
    * collides. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .groupBy(col(idCol))
      .agg((sum((col("pos") + 1) * hash32(col("w"))) % 2147483648L).as("fp"))
      .orderBy(col(idCol))

  /** Repeated-passage detection — the distributed stand-in for
    * suffix-array substring dedup (the "train-data memorization comes
    * from repeated PASSAGES, not repeated documents" problem): every
    * k-token window is hashed with its (doc, position); windows whose
    * hash appears in ≥ `minDocs` distinct documents are repetition
    * hits, and per document the overlapping/adjacent hit positions are
    * merged into maximal token spans `[start_tok, end_tok)` — the
    * redaction list a masking pass consumes.
    *
    * Scale shape: posexplode windows → md5 per row (the same
    * explode-then-hash layout as [[minhashSignatures]], for the same
    * CollapseProject reason) → distinct (hash, doc) → per-hash doc
    * counts → hash-keyed join back. Everything shuffles linearly in
    * the corpus token count — a suffix array would be superlinear
    * memory on one machine — and the span merge is a per-document
    * window (lag + running sum, the q46 sessionize trick), so state
    * is bounded by document length, never corpus size. */
  def repeatedPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      minDocs: Long = 2L,
      maxDocsPerShingle: Option[Long] = None,
      dropMetrics: Option[org.apache.spark.sql.Observation] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = df
      .select(col(idCol), posexplode(wordShingles(tokens(col(textCol)), k)).as(Seq("pos", "s")))
      .select(col(idCol), col("pos"), md5(col("s")).as("h"))
    val freq0 = win.select(col("h"), col(idCol)).distinct()
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
    // Superlinear tail bound (SCALE_r14b: 4.76× at 10× data): as
    // near-dup replicas multiply, ubiquitous shingles push nearly
    // every window into the frequency join and the per-doc window agg.
    // A shingle in MORE than maxDocsPerShingle docs is boilerplate by
    // construction (headers, licenses — the same argument as the LSH
    // hot-bucket cap X107): drop it HERE, in the same pass — the cap
    // is a self-filter on the frequency relation, so unlike the LSH
    // cap (whose hot set comes from a different relation) it needs no
    // anti-join; the r15 shape re-materialized the whole
    // explode→distinct→count pipeline a second time for the broadcast
    // side, costing ~60% on corpora with nothing to drop (SCALE_r15b:
    // 8.15× vs 5.01× at 10×). Drop accounting stays observable —
    // CollectMetrics rides the single pass as conditional aggregates,
    // never silent.
    val freq = maxDocsPerShingle match {
      case Some(cap) =>
        val observed = dropMetrics.fold(freq0)(obs => freq0.observe(obs,
          count(when(col("n_docs") > cap, 1)).as("dropped_shingles"),
          coalesce(sum(when(col("n_docs") > cap, col("n_docs"))), lit(0L))
            .as("dropped_doc_occurrences")))
        observed.filter(col("n_docs") <= cap)
      case None => freq0
    }
    val hits = win.join(freq, "h").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("brk", when(col("pos") - lag(col("pos"), 1).over(w) <= k, 0).otherwise(1))
      .withColumn("span", sum(col("brk")).over(w))
      .groupBy(col(idCol), col("span"))
      .agg(min(col("pos")).as("start_tok"), (max(col("pos")) + k).as("end_tok"),
        count(lit(1)).as("n_win"))
      .select(col(idCol), col("start_tok"), col("end_tok"), col("n_win"))
      .orderBy(col(idCol), col("start_tok"))
  }

  /** Apply [[repeatedPassages]] spans: rewrite each document with its
    * redaction spans' tokens removed. The spans are grouped to one
    * array per doc and the rewrite is a single array pipeline (indexed
    * `filter` + `concat_ws`) — no explode, no extra shuffle beyond the
    * doc-keyed span join; docs without spans pass through unchanged
    * (left join). Returns (idCol, clean_text, n_kept, n_redacted). */
  def redactPassages(df: DataFrame, idCol: String, textCol: String, spans: DataFrame): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("start_tok"), col("end_tok"))).as("__spans"))
    df.join(sp, Seq(idCol), "left")
      .select(col(idCol), tokens(col(textCol)).as("__t"),
        coalesce(col("__spans"), array().cast("array<struct<start_tok:int,end_tok:int>>")).as("__spans"))
      .select(col(idCol),
        filter(col("__t"), (_, i) =>
          !exists(col("__spans"), s =>
            i >= s.getField("start_tok") && i < s.getField("end_tok"))).as("__kept"),
        size(col("__t")).as("__n"))
      .select(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__kept")).as("n_kept"),
        (col("__n") - size(col("__kept"))).as("n_redacted"))
      .orderBy(col(idCol))
  }
}
