package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.4): exact, MinHash+LSH banding,
  * and exact n-gram-Jaccard verification.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-shuffle on the dedup key with map-side partial
  *    aggregation;
  *  - near-dup avoids the O(n^2) cross join: shingle -> 64 minhashes ->
  *    band-bucket self-join. Only same-bucket candidates are verified with
  *    exact Jaccard. Band parameters (r=2 rows, b=32 bands) put the S-curve
  *    threshold at ~(1/32)^(1/2) ≈ 0.18, so recall at J >= 0.5 is
  *    1-(1-J^2)^32 >= 0.9999 while far pairs rarely collide. All hashing is
  *    codegen'd HOF expressions — the only shuffles are the band-bucket join
  *    and the verify join on doc ids.
  */
object Dedup {

  /** Exact-dup groups: surviving (min) id + group size per distinct value. */
  def exactDedupStats(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select(col("keep_id"), col("dup_cnt"))

  /** Distinct k-token shingle sets: (id, s: array<string>). Rows with fewer
    * than k tokens are dropped (no shingle exists). */
  def shingleSets(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("tokens"))
      .where(size(col("tokens")) >= k)
      .select(col("doc_id"), array_distinct(expr(
        s"""transform(sequence(0, size(tokens) - $k),
           |          i -> concat_ws(' ', ${(0 until k).map(j => s"tokens[i + $j]").mkString(", ")}))"""
          .stripMargin)).as("s"))

  /** [[shingleSets]] with each shingle hashed to int64 (xxhash64) — the
    * representation every downstream stage uses. Set cardinalities and
    * intersections are preserved up to a 2^-64 per-pair collision
    * probability (for a corpus with S distinct shingles the expected number
    * of colliding pairs is ~S^2/2^65 — at 100 TB / ~10^12 shingles that is
    * ~0.03 collisions corpus-wide), so exact-Jaccard verification on the
    * hashes is exact in practice while shuffling 8-byte longs instead of
    * full shingle strings — at 100 TB the verify-join payload is the
    * dominant shuffle cost, and this cuts it ~10x. */
  def hashedShingleSets(df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame =
    shingleSets(df, textCol, idCol, k)
      .select(col("doc_id"),
        array_distinct(transform(col("s"), x => xxhash64(x))).as("s"))

  /** MinHash signature of the hashed shingle set via the codegen'd
    * `graft_minhash` expression: two base mixes per shingle combined as
    * h_k = h1 XOR rotl64(h2, k), all `numHashes` minima in one primitive
    * pass per row — MAP-ONLY. The previous explode + N-min-aggregates
    * formulation shuffled every (doc, shingle) row to aggregate minima;
    * now no shuffle happens until the band join, and only 8×N-byte
    * signatures ever move. Engine-internal only — candidates are exactly
    * verified, so the hash family never leaks into results. */
  def minhashSignatures(shingles: DataFrame, numHashes: Int = 64): DataFrame =
    shingles.select(col("doc_id"),
      expr(s"graft_minhash(s, $numHashes)").as("sig"))

  /** Band-key struct-array expression over a `sig` column — ONE definition
    * of the banding layout, shared by the batch pipelines and the
    * streaming twin (hardcoding the slice arithmetic twice would let the
    * two silently diverge). */
  def bandKeysExpr(r: Int, numHashes: Int): org.apache.spark.sql.Column = {
    val b = numHashes / r
    val bandCols = (0 until r).map(j => s"sig[$r * b + $j] as h$j").mkString(", ")
    expr(s"transform(sequence(0, ${b - 1}), b -> struct(b as band, $bandCols))")
  }

  /** Per-doc band keys for LSH banding: one (doc_id, bk) row per band,
    * bk = struct(band index, the band's r signature rows). */
  def bandKeys(sigs: DataFrame, r: Int, numHashes: Int): DataFrame =
    sigs.select(col("doc_id"), explode(bandKeysExpr(r, numHashes)).as("bk"))

  /** Hot-bucket guard threshold for the LSH band self-joins. A bucket of m
    * members emits m(m-1)/2 candidate pairs, so ONE boilerplate-heavy
    * bucket (every page sharing a cookie banner; a constant spam template)
    * turns the candidate join quadratic inside a single key — the classic
    * LSH failure at corpus scale. Measured occupancy on the test corpus at
    * sf0.1: max 13 (minhash bands), max 120 (RHP tables) — 4096 is far
    * above anything a healthy corpus produces (worst case ~8M pairs from
    * one bucket, seconds of work) while bounding the adversarial case. */
  val DefaultMaxBucketSize: Int = 4096

  /** Within-bucket candidate pairs (a_id < b_id) with a hot-bucket skew
    * guard. `buckets` has one row per (member, bucket); buckets with at
    * most `maxBucketSize` members self-join into ALL within-bucket pairs
    * (exact LSH semantics); oversized buckets degrade to HUB pairs — every
    * member paired with the bucket's minimum id — m-1 pairs instead of
    * m(m-1)/2, so total candidates are O(n * maxBucketSize) per band, never
    * quadratic.
    *
    * Semantics of the degraded mode: connectivity within the bucket is
    * preserved (all members reach the hub), so CLUSTERING consumers
    * (connected components / dedup survivors) see the same components
    * whenever member~hub pairs pass downstream verification — exactly the
    * boilerplate/constant-document case that creates giant buckets. PAIR
    * LISTING consumers lose within-bucket pairs not involving the hub that
    * share no other (small) bucket; that loss is inherent — an oversized
    * bucket's full pair list is itself quadratic output. NOT SILENT: audit
    * the split with [[oversizedBuckets]] (same inputs → the affected
    * buckets, their sizes and hubs).
    *
    * Plan shape: ONE join, same as the unguarded self-join. The LEFT side
    * is window-annotated (occupancy + hub over the bucket key) and filtered
    * to "all members of small buckets, plus only the hub of oversized
    * ones"; the RIGHT side is the plain bucket rows. In a small bucket
    * every member survives on the left → all (a < b) pairs, exact LSH
    * semantics; in an oversized bucket only the hub (= min id) survives →
    * hub-member pairs only, m-1 joined rows. So the guard costs one window
    * over the left side's bucket-key exchange and nothing else — the right
    * side stays broadcastable, and there is no extra pass over the
    * signature pipeline. */
  def guardedBucketPairs(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val left = buckets
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_hub", min(col(idCol)).over(w))
      .where(col("_cnt") <= maxBucketSize || col(idCol) === col("_hub"))
      .select((bucketCols :+ idCol).map(col): _*)
    val joinCond = bucketCols.map(c => col(s"l.$c") === col(s"r.$c"))
      .reduce(_ && _) && col(s"l.$idCol") < col(s"r.$idCol")
    left.as("l").join(buckets.as("r"), joinCond)
      .select(col(s"l.$idCol").as("a_id"), col(s"r.$idCol").as("b_id"))
      .distinct()
  }

  /** Audit companion of [[guardedBucketPairs]]: the buckets the guard
    * star-splits at `maxBucketSize`, with size and hub id — run this
    * whenever the guard might have fired (a capped pipeline is never
    * silently lossy; this query names exactly what was degraded). */
  def oversizedBuckets(buckets: DataFrame, bucketCols: Seq[String],
      idCol: String, maxBucketSize: Int): DataFrame =
    buckets.groupBy(bucketCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_size"), min(col(idCol)).as("hub_id"))
      .where(col("bucket_size") > maxBucketSize)

  /** LSH banding: candidate pairs (a_id < b_id) sharing at least one band.
    * r rows per band; numHashes/r bands. Oversized buckets (>
    * `maxBucketSize` members) are star-split — see [[guardedBucketPairs]]
    * for the exact semantics and [[oversizedBuckets]] for the audit. */
  def lshCandidatePairs(sigs: DataFrame, r: Int = 2, numHashes: Int = 64,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    guardedBucketPairs(bandKeys(sigs, r, numHashes), Seq("bk"), "doc_id", maxBucketSize)

  /** INCREMENTAL near-dup: new docs that duplicate an EXISTING corpus —
    * the nightly-ingest shape (today's crawl vs the deduplicated index).
    * Same MinHash/band machinery as [[jaccardPairs]], but the band join is
    * new × corpus instead of a self-join, so cost scales with |new| × the
    * band collision rate, never |corpus|² — and the corpus side's
    * signatures/shingles are exactly the artifacts a production index
    * would precompute and store. Output: (new_id, corpus_id, jaccard)
    * for exact Jaccard >= threshold. */
  def incrementalNearDups(newDocs: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, threshold: Double = 0.5, k: Int = 3): DataFrame = {
    val shNew = hashedShingleSets(newDocs, textCol, idCol, k)
    val shCorp = hashedShingleSets(corpus, textCol, idCol, k)
    val candidates = bandKeys(minhashSignatures(shNew), 2, 64).as("n")
      .join(bandKeys(minhashSignatures(shCorp), 2, 64).as("c"),
        col("n.bk") === col("c.bk"))
      .select(col("n.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    candidates
      .join(shNew.select(col("doc_id").as("new_id"), col("s").as("sa")), "new_id")
      .join(shCorp.select(col("doc_id").as("corpus_id"), col("s").as("sb")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Sketch-only near-dup pairs: Jaccard ESTIMATED as the fraction of
    * agreeing MinHash positions — no shingle-set payloads move at all, only
    * 64-long signatures. The estimator is unbiased with std error
    * ~sqrt(j(1-j)/64) (<= 0.0625); at 100 TB this is the pass you run when
    * even int64-hashed exact verification is too much shuffle, accepting
    * estimate noise instead (measured MAE vs exact ~0.03 on the corpus,
    * `MinhashEstimateSpec`). Candidates still come from LSH banding, so
    * there is no all-pairs join. */
  def estimatedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, k: Int = 3, numHashes: Int = 64): DataFrame = {
    val sigs = minhashSignatures(hashedShingleSets(df, textCol, idCol, k), numHashes)
    lshCandidatePairs(sigs, numHashes = numHashes)
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")), "a_id")
      .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")), "b_id")
      // signature agreement via the codegen'd kernel (one primitive loop
      // per pair; the HOF zip_with/aggregate form runs interpreted, per
      // element — see SigAgree and DEVNOTES rule 10)
      .withColumn("est_jaccard",
        call_function("graft_sig_agree", col("sa"), col("sb"))
          .cast("double") / numHashes)
      .where(col("est_jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_jaccard"))
  }

  private val ccObsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** How long a round waits for its changed-count observation. The
    * checkpoint action has already finished by then; only the listener
    * event carrying the metrics is outstanding, so a longer wait means the
    * event was lost, and the round fails instead of blocking forever. */
  private val ccObsWait = scala.concurrent.duration.Duration(5, "min")

  /** Connected components over an undirected edge list `(a_id, b_id)` via
    * iterated min-label propagation — the scalable CC formulation (each
    * round is one neighbor-min aggregation + one keyed join; rounds are
    * bounded by the longest shortest-path inside a component, which for
    * near-dup clusters is tiny). Labels are checkpointed per round so
    * lineage stays flat. Returns `(id, root)` for every node that appears
    * in an edge; `root` is the component's minimum id — the canonical
    * "keep the oldest" dedup survivor. */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val sym = edges
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(edges.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("root", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val neighborMin = sym
        .join(labels.select(col("id").as("dst"), col("root").as("nroot")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("nroot")).as("min_n"))
      // Convergence detection rides the SAME action that materializes the
      // round: the changed-count is an observed metric of the checkpoint
      // job (the update join already computes old and new root side by
      // side). The previous formulation ran a second per-round job that
      // re-JOINED the new and old label sets — a full extra shuffle per
      // round, pure overhead at scale.
      // unique per INVOCATION, not just per round: observed metrics are
      // matched by name on query-completion events, so two concurrent CC
      // ladders (DriverPar callers) with identical names could read each
      // other's round counts
      val obs = org.apache.spark.sql.Observation(
        s"cc_round_${round}_${ccObsId.incrementAndGet()}")
      val updated = labels
        .join(neighborMin, Seq("id"), "left_outer")
        .select(col("id"), col("root").as("_old"),
          least(col("root"), coalesce(col("min_n"), col("root"))).as("root"))
        .observe(obs,
          coalesce(sum(when(col("root") =!= col("_old"), 1L).otherwise(0L)), lit(0L))
            .as("changed"))
        .select(col("id"), col("root"))
        .localCheckpoint(true)
      changed =
        try scala.concurrent.Await.result(obs.future, ccObsWait).getAs[Long]("changed")
        catch {
          case e: java.util.concurrent.TimeoutException =>
            throw new IllegalStateException(s"connectedComponents round $round: " +
              s"observation ${obs.name} reported no metrics within $ccObsWait", e)
        }
      labels = updated
    }
    labels
  }

  /** INCREMENTAL connected components — dup-graph maintenance for the
    * nightly-crawl shape: given the previous run's `(id, root)` labels and
    * a batch of NEW edges, produce labels identical to re-running
    * [[connectedComponents]] over the full accumulated edge set, at a cost
    * bounded by the TOUCHED components plus the delta — never the
    * accumulated graph.
    *
    * Correctness rests on the contraction property: a component's
    * `(member, root)` star is CC-equivalent to the original component's
    * edges (same node set, same connectivity), so CC(stars ∪ delta) has
    * exactly the merged components; and only components containing a delta
    * endpoint can change, so untouched labels pass through verbatim. Roots
    * stay canonical (component min id): each old root is the min of its
    * members, and the min over a merged component is the min over its old
    * roots ∪ new nodes — what CC recomputes. Star graphs have diameter 2,
    * so the inner label propagation converges in ~2 + merge-chain rounds
    * regardless of how deep the accumulated history is.
    *
    * Scale shape: one endpoint→root probe join, two semi/anti joins
    * splitting prev by touched root, then [[connectedComponents]] on a
    * (touched members + delta)-sized graph. Reconciliation with the batch
    * result is oracle-checked (q164) and dag-cycle-checked
    * (IncrementalCcSpec, the q160 pattern). */
  def incrementalConnectedComponents(prevRoots: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val prev = PinnedCache.pin(prevRoots.select(col("id"), col("root")))
    val delta = PinnedCache.pin(
      deltaEdges.select(col("a_id"), col("b_id")).distinct())
    val touchedRoots = delta.select(col("a_id").as("id"))
      .unionAll(delta.select(col("b_id").as("id"))).distinct()
      .join(prev, Seq("id")) // inner: brand-new nodes carry no old root
      .select(col("root")).distinct()
    val untouched = prev.join(touchedRoots, Seq("root"), "left_anti")
    val stars = prev.join(touchedRoots, Seq("root"), "left_semi")
      .where(col("id") =!= col("root"))
      .select(col("id").as("a_id"), col("root").as("b_id"))
    // touched singleton roots appear in delta by construction (they were
    // touched through one of their own endpoints), so stars ∪ delta covers
    // every node whose label can change
    val merged = connectedComponents(stars.unionByName(delta))
    untouched.select(col("id"), col("root")).unionByName(merged)
  }

  /** LEAKAGE-SAFE train/val/test split — the dedup-aware assignment a
    * training pipeline actually needs: hash-bucketing BY DOCUMENT
    * ([[Sampling.splitColumn]]) LEAKS near-duplicates across the split
    * boundary (a test doc's near-copy sits in train and the eval reads
    * as memorization), so the split key here is the dup-CLUSTER root —
    * every member of a connected near-dup cluster lands in the SAME
    * split, and documents outside any cluster split by their own id
    * (≡ their singleton root, so the assignment degenerates to the
    * plain doc split exactly when there are no duplicates).
    * Deterministic md5 buckets (the [[Sampling.splitColumn]] recipe) —
    * stable across runs, engines, partitionings, and corpus GROWTH
    * restricted to other clusters. Input: the docs frame + a near-dup
    * pair list (a_id, b_id — q26's shape). Output: (id, root, split).
    * Shape: one CC pass over the pair graph (pair-sized, not
    * corpus-sized) + one broadcast-able left join onto the corpus. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages in [0,100], train+val <= 100")
    val roots = connectedComponents(pairs)
    docs.select(col(idCol).as("id"))
      .join(roots, Seq("id"), "left")
      .withColumn("root", coalesce(col("root"), col("id")))
      .withColumn("split", Sampling.splitColumn(col("root"), trainPct, valPct))
  }

  /** Leakage-safe GROUP k-FOLD — [[leakageSafeSplit]]'s cross-validation
    * sibling: fold = portable-hash(near-dup cluster ROOT) mod k, so a
    * document and its near-copies can NEVER land in different folds —
    * the train-on-folds≠i / eval-on-fold-i contract breaks the moment a
    * near-copy crosses folds, and a plain per-id fold hash breaks it
    * wherever the corpus has duplicates. Degenerates to the plain
    * id-hash k-fold exactly when dup-free. Same shape as the split:
    * one pair-sized CC pass + one left join onto the corpus.
    * Output: (id, root, fold ∈ [0, k)). */
  def groupKFold(docs: DataFrame, idCol: String, pairs: DataFrame,
      k: Int): DataFrame = {
    require(k >= 2 && k <= 100, "k in [2,100]")
    val roots = connectedComponents(pairs)
    docs.select(col(idCol).as("id"))
      .join(roots, Seq("id"), "left")
      .withColumn("root", coalesce(col("root"), col("id")))
      .withColumn("fold", Sampling.foldColumn(col("root"), k))
  }

  /** Near-dup CLUSTERS (not just pairs): LSH pairs -> connected components
    * -> one row per multi-member cluster. Pair-wise "drop the higher id"
    * dedup is not transitive (a~b, b~c with a!~c drops b and c but keeps
    * only a of the cluster); components give the principled survivor set:
    * keep each cluster's root, drop the rest. */
  def nearDupClusters(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, k: Int = 3): DataFrame =
    // min-id preference: the survivor IS the root — the classic keep-oldest
    clusterSurvivors(df, textCol, idCol, (-col(idCol)).as("_p"), threshold, k)
      .select(col("root_id"), col("members"))

  /** Near-dup cluster SURVIVOR selection with a pluggable preference —
    * "keep the oldest" (min id) is rarely what a curation pipeline wants;
    * production picks the longest / highest-quality member. `preference`
    * is any orderable Column evaluated per doc (bigger wins; include a
    * unique tiebreaker for determinism, e.g.
    * `struct(col("n_chars"), -col("doc_id"))` = longest-then-lowest-id).
    * One max_by per cluster on top of [[connectedComponents]] — the
    * preference never changes the clustering, only the survivor. */
  def clusterSurvivors(docs: DataFrame, textCol: String, idCol: String,
      preference: org.apache.spark.sql.Column, threshold: Double = 0.5,
      k: Int = 3): DataFrame = {
    val cc = connectedComponents(jaccardPairs(docs, textCol, idCol, threshold, k))
    cc.join(docs.select(col(idCol).as("id"), preference.as("_pref")), "id")
      .groupBy(col("root").as("root_id"))
      .agg(max_by(col("id"), col("_pref")).as("survivor_id"),
        count(lit(1)).as("members"))
  }

  /** Benchmark decontamination: training docs that share at least one word
    * n-gram with the (small) benchmark corpus, with the matching-gram count.
    * The standard pre-training hygiene pass — eval-set n-grams must not
    * leak into training data.
    *
    * Scale shape: the benchmark side is distinct n-grams BROADCAST to the
    * executors, so the training corpus is filtered map-side inside the
    * join — the only shuffle is the final per-doc count of matched grams
    * (longs). The training corpus is never shuffled by n-gram. */
  def contaminatedDocs(train: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    // tokens hoisted to a named column first — n-gram lambdas over a bound
    // attribute, not a captured split() (see TextAnalysis.ngramsFromTokens)
    def grams(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.ngramsFromTokens("t", n))).as("g"))
    val benchGrams = grams(benchmark).select(col("g")).distinct()
    grams(train)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("matched_ngrams"))
  }

  /** [[contaminatedDocs]] with n-grams hashed to int64 before the
    * broadcast/join — for LONG n-grams (decontamination typically uses
    * 8–13-grams) the hashed benchmark set is ~10x smaller to broadcast and
    * the exploded training grams are 8-byte longs instead of strings.
    * Same 2^-64 per-pair collision argument as [[hashedShingleSets]];
    * results are identical to the string form in practice (asserted on the
    * corpus in `CorpusOpsSpec`). */
  def contaminatedDocsHashed(train: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("t"))
      .select(col("doc_id"),
        explode(array_distinct(transform(
          TextAnalysis.ngramsFromTokens("t", n), g => xxhash64(g)))).as("g"))
    val benchGrams = grams(benchmark).select(col("g")).distinct()
    grams(train)
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("matched_ngrams"))
  }

  /** SimHash near-dup pairs: docs whose N-bit SimHash signatures are
    * within `maxDist` hamming distance, found via BAND BLOCKING — the
    * hamming-space analog of MinHash-LSH banding. The signature is split
    * into `bands` equal bit-slices; by pigeonhole, two signatures with at
    * most `bands - 1` differing bits agree on at least one slice, so for
    * `maxDist <= bands - 1` blocking has recall 1.0 (no approximation to
    * document — the oracle can be an exact brute-force pair scan).
    *
    * Scale shape: one map-only signature pass (the q27 accumulator-order
    * lesson: token hashes are the fold's data input, the per-bit vote
    * counters the accumulator), one self-join keyed by (band, slice), one
    * cheap bit_count verify — no all-pairs join anywhere. Bits-per-band
    * sets bucket sparsity: 15-bit slices give 32k buckets per band, and
    * at larger corpora the same operator widens to more bits (the
    * signature fold is O(bits), not O(2^bits)). */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 60, bands: Int = 4, maxDist: Int = 3): DataFrame =
    hammingNearDupPairsFromSigs(
      df.select(col(idCol).as("doc_id"), TextAnalysis.simhashN(textCol, bits).as("sig")),
      bits, bands, maxDist)

  /** Band-blocked hamming near-dup pairs over PRECOMPUTED `(doc_id, sig)`
    * signatures — the blocking stage of [[simhashNearDupPairs]] factored
    * out so any N-bit signature family rides it (simhash over tokens,
    * perceptual image hashes, ...). Same pigeonhole recall guarantee:
    * exact for `maxDist <= bands - 1`. */
  def hammingNearDupPairsFromSigs(sigs: DataFrame,
      bits: Int, bands: Int, maxDist: Int): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    require(maxDist <= bands - 1, "blocking recall is 1.0 only for maxDist <= bands-1")
    val sliceBits = bits / bands
    val mask = (1L << sliceBits) - 1
    val bands_ = sigs.select(col("doc_id"), col("sig"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
           |          b -> struct(b as band, shiftright(sig, b * $sliceBits) & $mask as slice))"""
          .stripMargin)).as("bk"))
    bands_.as("l")
      .join(bands_.as("r"),
        col("l.bk") === col("r.bk") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a_id"), col("r.doc_id").as("b_id"),
        col("l.sig").as("sa"), col("r.sig").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .where(col("hamming") <= maxDist)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Near-dup pairs with exact Jaccard >= threshold, LSH-pruned: the full
    * MinHash->band->bucket-join->exact-verify pipeline. Output matches a
    * brute-force O(n^2) oracle (recall at threshold 0.5 is ~1-1e-4; the
    * int64 shingle hashing adds a ~2^-64 per-pair collision bound — see
    * [[hashedShingleSets]]). */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, k: Int = 3,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Hashed (int64) shingle sets everywhere: minhash reads them exploded,
    // the verify join shuffles them as compact long arrays.
    val sh = PinnedCache.pin(hashedShingleSets(df, textCol, idCol, k))
    val candidates = lshCandidatePairs(minhashSignatures(sh),
      maxBucketSize = maxBucketSize)
    val verified = candidates
      .join(sh.select(col("doc_id").as("a_id"), col("s").as("sa")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("s").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= threshold)
    verified.select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family): every pair with token-set Jaccard >=
    * `threshold`, ZERO false negatives — the complement to [[jaccardPairs]]
    * (whose LSH candidates trade a ~1e-4 miss rate for cost) when the
    * pipeline needs a provably complete pair list (contracts, eval-set
    * hygiene audits).
    *
    * The filter: order all tokens by (global frequency, hash) — rarest
    * first — and index only each set's PREFIX of length
    * n - ceil(t*n) + 1. For any pair with J >= t the required overlap
    * alpha = ceil(t/(1+t) * (|a|+|b|)) >= ceil(t*max(|a|,|b|))
    * (since J >= t forces min >= t*max), and by the standard prefix
    * lemma two sets overlapping in >= alpha elements must share a token
    * inside both (n - alpha + 1)-prefixes — ours are at least that long.
    * So the candidate join is keyed by prefix tokens only: each doc
    * exposes ~(1-t)*n + 1 of its RAREST tokens, which is what keeps
    * buckets small on a healthy corpus (frequent tokens never become join
    * keys). A length filter (min >= t*max — also implied by J >= t)
    * prunes inside the join condition before the exact verify.
    *
    * Scale shape: token frequencies are one vocabulary-sized aggregate;
    * the frequency annotation joins back by token (AQE broadcasts the
    * vocab side when small); per-doc ordering is a map-side array_sort of
    * (cnt, tok64) structs; candidates shuffle 8-byte hashed tokens; the
    * verify join ships long arrays by doc id, exactly like
    * [[jaccardPairs]]. Worst case remains output-bound: a cluster of m
    * identical docs IS m(m-1)/2 true result pairs — inherent to exact
    * pair LISTING; route clustering consumers through
    * [[clusterSurvivors]] instead.
    *
    * Tokens are int64-hashed throughout ([[hashedShingleSets]]'s ~2^-64
    * per-pair collision argument); the ordering tie-break uses the hash,
    * which is as valid a total order as the lexicographic one. */
  /** Set granularity: k = 1 dedups on unigram token sets; k >= 2 on
    * k-shingle sets ([[hashedShingleSets]]) — the near-dup granularity
    * (q26's), where the pair list is sparse on real corpora because
    * shingles, unlike tokens, rarely collide across unrelated docs. */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 1): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // cached: referenced by both prefix sides AND both verify joins — the
    // shingle+sort pipeline must not run four times (the q26 sh.cache()
    // lesson)
    val sorted = PinnedCache.pin(rarestFirstSets(elementSets(df, textCol, idCol, k)))
    val prefixes = sorted
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("toks"), lit(1),
          (col("n") - ceil(col("n") * threshold).cast("int") + 1))))
      .withColumnRenamed("col", "tok")
    // PPJoin's POSITIONAL filter on top of the prefix + length filters:
    // for the FIRST prefix token two similar sets share (at 0-based sorted
    // positions pa, pb), every shared token sits at or after those
    // positions, so overlap <= 1 + min(|a|-pa-1, |b|-pb-1). A true pair
    // needs overlap >= alpha = ceil(t/(1+t)·(|a|+|b|)), so its first
    // shared occurrence always passes — pruning LATER occurrences of the
    // same pair (where the bound understates overlap) is harmless because
    // the candidate set is distinct()-ed: one surviving occurrence keeps
    // the pair. Zero false negatives preserved; verify volume drops on
    // pairs that share only deep-prefix tokens. The 1e-9 slack keeps a
    // float ceil() at an exact integer boundary from rounding UP and
    // over-pruning (alpha is exact rational t/(1+t)·(na+nb)).
    val alphaFrac = threshold / (1.0 + threshold)
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")) * threshold &&
          (lit(1) + least(col("a.n") - col("a.pos") - 1,
            col("b.n") - col("b.pos") - 1)).cast("double") >=
            ceil((col("a.n") + col("b.n")) * lit(alphaFrac) - lit(1e-9)))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    candidates
      .join(sorted.select(col("doc_id").as("a_id"), col("toks").as("sa")), "a_id")
      .join(sorted.select(col("doc_id").as("b_id"), col("toks").as("sb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Empirical recall audit of a MinHash band configuration against the
    * EXACT pair list — the tuning operator a 100 TB dedup run consults
    * before committing to (numHashes, r): per Jaccard decile, how many
    * true pairs >= `threshold` would the banded LSH candidate stage
    * actually surface? Returns (decile, n_pairs, n_found, recall_ppm),
    * decile = min(9, floor(10·J)).
    *
    * Runs on an audit SAMPLE (exact pairs via [[prefixJaccardPairs]] are
    * affordable there); the measured per-decile recall transfers to the
    * production corpus because banded min-wise recall depends only on J
    * and the band shape (1-(1-J^r)^b), not corpus size. The signatures
    * here use the PORTABLE md5 hash family ([[Sampling.portableHash]] per
    * (shingle, seed)) rather than the codegen xxhash64 family
    * ([[minhashSignatures]]) so the audit itself is oracle-checkable
    * bit-for-bit; both are min-wise families with identical collision
    * statistics, which is all the recall estimate depends on. 16×md5 per
    * shingle is why this is the audit path, not the production path. */
  /** `sampleDenom`: audit on the deterministic hash(id) mod denom < num
    * subset ([[Sampling.deterministicSample]]) — exact ground truth is
    * quadratic in the sample, so the sample bounds the cost while the
    * per-decile recall estimate stays unbiased (pair inclusion is
    * independent of J). */
  /** Portable-family MinHash signatures over a sets frame `(doc_id, s)`:
    * one `m$i` column per hash, min over [[Sampling.portableHash]] of
    * `element:":":i` — the md5 family the DuckDB oracle can replay
    * bit-for-bit (the audit path; production uses the codegen xxhash64
    * family in [[minhashSignatures]]). */
  private[ext] def portableMinhashSigs(sh: DataFrame, numHashes: Int): DataFrame =
    sh.select(col("doc_id") +: (0 until numHashes).map(i =>
      array_min(transform(col("s"),
        g => Sampling.portableHash(concat(g, lit(":" + i))))).as(s"m$i")): _*)

  /** Banded LSH candidate pairs from a [[portableMinhashSigs]] frame:
    * band b = the r-tuple (m_{br}..m_{br+r-1}); two docs are candidates
    * iff some band's full tuple collides. Struct equality on the tuple —
    * the shuffle keys on (band, tuple), so a 100 TB corpus buckets
    * without any all-pairs stage. */
  private[ext] def bandCandidates(sigs: DataFrame, numHashes: Int, r: Int): DataFrame = {
    require(numHashes % r == 0, "numHashes must be a multiple of r")
    val bands = numHashes / r
    val bandArr = array((0 until bands).map(b =>
      struct((0 until r).map(j => col(s"m${b * r + j}").as(s"v$j")): _*)): _*)
    val keyed = sigs.select(col("doc_id"), posexplode(bandArr).as(Seq("band", "key")))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  def lshRecallAudit(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 3, numHashes: Int = 16, r: Int = 2,
      sampleNum: Int = 1, sampleDenom: Int = 1): DataFrame = {
    require(numHashes % r == 0, "numHashes must be a multiple of r")
    val audit =
      if (sampleDenom <= 1) df
      else Sampling.deterministicSample(df, idCol, sampleNum, sampleDenom)
    val exact = prefixJaccardPairs(audit, textCol, idCol, threshold, k)
    val sh = shingleSets(audit, textCol, idCol, k)
    val cand = bandCandidates(portableMinhashSigs(sh, numHashes), numHashes, r)
    exact
      .join(cand.withColumn("found", lit(true)), Seq("a_id", "b_id"), "left")
      .withColumn("found", coalesce(col("found"), lit(false)))
      .withColumn("decile", least(lit(9L), floor(col("jaccard") * 10)))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("found"), 1L).otherwise(0L)).as("n_found"))
      .withColumn("recall_ppm", expr("(n_found * 1000000) div n_pairs"))
  }

  /** Dedup CONFIG ADVISOR — the one table a 100 TB dedup run consults
    * before committing to a (threshold, band-shape) configuration:
    * for every candidate Jaccard cutoff × every (bands, rowsPerBand)
    * split of the MinHash signature, on the audit sample,
    *
    *   (t_ppm, bands, rows_per_band, n_true_pairs, n_found, recall_ppm,
    *    n_survivors, docs_removed, chars_saved)
    *
    * i.e. EMPIRICAL candidate-stage recall against the exact pair list
    * ([[lshRecallAudit]]'s measurement, generalized over band shapes on
    * ONE shared signature frame), joined with the retention curve
    * (survivors after min-id cluster collapse at the cutoff — the q264
    * discipline) and the storage projection (chars reclaimed from
    * non-survivors — the q244 discipline). The curator reads one row per
    * config and picks the loosest cutoff whose recall and survivor
    * counts are both acceptable.
    *
    * Cost discipline: the quadratic exact stage runs once at the LOOSEST
    * cutoff on the deterministic sample ([[Sampling.deterministicSample]]
    * — pair inclusion independent of J, so per-config recall is
    * unbiased); signatures are computed ONCE and re-banded per shape
    * (banding is a projection, not a rehash); clustering runs per cutoff
    * on the tiny filtered pair graph. Everything downstream of the
    * pinned frames is single-row aggregates, so the combo fan-out is
    * free. Per-decile recall transfers to the production corpus because
    * banded min-wise recall depends only on J and the band shape
    * (1−(1−J^r)^b), not corpus size. */
  def dedupConfigAdvisor(df: DataFrame, textCol: String, idCol: String,
      charsCol: String, thresholdsPpm: Seq[Long], rowsPerBand: Seq[Int],
      numHashes: Int = 16, k: Int = 1,
      sampleNum: Int = 1, sampleDenom: Int = 1): DataFrame = {
    require(thresholdsPpm.nonEmpty && rowsPerBand.nonEmpty, "need configs")
    require(thresholdsPpm.forall(t => t >= 1 && t <= 1000000), "t in ppm")
    rowsPerBand.foreach(r => require(numHashes % r == 0, s"numHashes % $r != 0"))
    val audit = PinnedCache.pin(
      if (sampleDenom <= 1) df
      else Sampling.deterministicSample(df, idCol, sampleNum, sampleDenom))
    val minT = thresholdsPpm.min
    // exact ground truth ONCE at the loosest cutoff, ppm-quantized so the
    // per-cutoff filters are integer (the q264 idiom)
    val exact = PinnedCache.pin(
      prefixJaccardPairs(audit, textCol, idCol, minT / 1e6, k)
        .select(col("a_id"), col("b_id"),
          round(col("jaccard") * 1000000).cast("long").as("j_ppm")))
    val sigs = PinnedCache.pin(
      portableMinhashSigs(shingleSets(audit, textCol, idCol, k), numHashes))
    val docs = audit.select(col(idCol).as("doc_id"),
      col(charsCol).cast("long").as("n_chars"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    // ONE conditional-sum scan covers every cutoff's true-pair count (and,
    // per band shape, ONE semi-joined scan covers every cutoff's found
    // count) — the combo fan-out costs selects on pinned 1-row frames,
    // not jobs per (t, shape)
    def perCutoffCounts(pairs: DataFrame, prefix: String): DataFrame = {
      // coalesce: on an EMPTY exact frame (a sparse audit sample) sum()
      // returns NULL while the oracle's COUNT(*) subqueries return 0 —
      // the ADVICE r10 cross-engine latent mismatch
      val aggs = thresholdsPpm.map(t =>
        coalesce(sum(when(col("j_ppm") >= t, 1L).otherwise(0L)), lit(0L))
          .as(s"${prefix}_$t"))
      pairs.agg(aggs.head, aggs.tail: _*)
    }
    val nTrue = PinnedCache.pin(perCutoffCounts(exact, "nt"))
    // per-cutoff retention stats (independent of band shape): one CC on
    // the tiny filtered graph; docs_removed = members − clusters = the
    // non-root rows; survivors/savings from the non-survivor id set
    // the per-cutoff CC ladders are INDEPENDENT and latency-bound (tiny
    // filtered graphs, one eager checkpoint per round) — build them on
    // concurrent driver threads so their rounds overlap (§2.6 /
    // [[DriverPar]]); same frames, same results, same reduce order
    val perT: Map[Long, DataFrame] =
      DriverPar.map(df.sparkSession, thresholdsPpm) { t =>
        val e = exact.where(col("j_ppm") >= t).select(col("a_id"), col("b_id"))
        val cc = PinnedCache.pin(connectedComponents(e))
        val nonSurv = cc.where(col("id") =!= col("root"))
          .select(col("id").as("doc_id"))
        val row = nonSurv.agg(count(lit(1)).as("docs_removed"))
          .crossJoin(docs.join(nonSurv, Seq("doc_id"), "left_semi")
            .agg(coalesce(sum(col("n_chars")), lit(0L)).as("chars_saved")))
          .crossJoin(total)
        t -> PinnedCache.pin(row)
      }.toMap
    rowsPerBand.map { r =>
      val cand = bandCandidates(sigs, numHashes, r)
      val found = PinnedCache.pin(perCutoffCounts(
        exact.join(cand, Seq("a_id", "b_id"), "left_semi"), "nf"))
      thresholdsPpm.map { t =>
        nTrue.select(col(s"nt_$t").as("n_true_pairs"))
          .crossJoin(found.select(col(s"nf_$t").as("n_found")))
          .crossJoin(perT(t))
          .select(lit(t).as("t_ppm"),
            lit((numHashes / r).toLong).as("bands"),
            lit(r.toLong).as("rows_per_band"),
            col("n_true_pairs"), col("n_found"),
            when(col("n_true_pairs") > 0,
              expr("(n_found * 1000000) div n_true_pairs")).as("recall_ppm"),
            expr(analyticRecallSql(t, numHashes / r, r, "div"))
              .cast("long").as("analytic_recall_ppm"),
            (col("n_docs") - col("docs_removed")).as("n_survivors"),
            col("docs_removed"), col("chars_saved"))
      }.reduce(_ unionByName _)
    }.reduce(_ unionByName _)
  }

  /** Closed-form banded-recall floor 1 − (1 − (t/10⁶)^r)^b at the cutoff
    * itself, in ppm FIXED POINT: every power step floors ((x·y) div 10⁶ on
    * non-negative longs ≤ 10⁶, products ≤ 10¹² < 2⁶³), so both engines
    * reproduce the value bit-for-bit from the same expression shape
    * (Spark `div` / DuckDB `//`). This is the extrapolation column next
    * to the advisor's EMPIRICAL recall: banded min-wise inclusion for a
    * pair at Jaccard exactly J is 1−(1−J^r)^b, monotone increasing in J,
    * so evaluating it AT the cutoff lower-bounds the expected recall of
    * the ≥-cutoff pair population — the number a curator can carry past
    * the audit sample's band (the empirical column is the sample
    * measurement; this is the model it converges to from above). */
  private[ext] def analyticRecallSql(tPpm: Long, bands: Int, rowsPerBand: Int,
      floorDiv: String): String = {
    def powPpm(base: String, n: Int): String =
      (2 to n).foldLeft(base)((acc, _) => s"(($acc * $base) $floorDiv 1000000)")
    val cast = if (floorDiv == "div") s"${tPpm}L" else s"CAST($tPpm AS BIGINT)"
    val pr = powPpm(cast, rowsPerBand)
    val one = if (floorDiv == "div") "1000000L" else "CAST(1000000 AS BIGINT)"
    val qb = powPpm(s"($one - $pr)", bands)
    s"($one - $qb)"
  }

  /** IDF-weighted exact Jaccard pairs: similarity that DOWN-WEIGHTS
    * boilerplate — wJ(A,B) = Σ_{t∈A∩B} idf(t) / Σ_{t∈A∪B} idf(t) with
    * idf(t) = qlog2(N) − qlog2(df(t)) + 1 in [[TextAnalysis.quarterLog2]]
    * quarter-bits, so the whole similarity (and the ppm threshold test)
    * is INTEGER — no float anywhere, bit-exact cross-engine. On a
    * template-heavy corpus plain token Jaccard saturates (every pair
    * shares the scaffolding); idf weighting makes shared RARE tokens
    * dominate, which is what content-level near-dup actually wants.
    *
    * Exact ground truth is pair-quadratic in principle, so the operator
    * runs on the deterministic hash sample (the q143 audit discipline);
    * the candidate stage is the inverted-index token join (cost
    * Σ_t df(t)² over the sample, bounded by sampling). Returns
    * (a_id, b_id, inter_w, union_w, wj_ppm), wj_ppm >= thresholdPpm. */
  def idfWeightedJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      thresholdPpm: Long, sampleNum: Int = 1, sampleDenom: Int = 1): DataFrame = {
    require(thresholdPpm >= 1 && thresholdPpm <= 1000000, "threshold in ppm")
    val audit =
      if (sampleDenom <= 1) df
      else Sampling.deterministicSample(df, idCol, sampleNum, sampleDenom)
    val tok = audit.select(col(idCol).as("doc_id"),
      explode(array_distinct(split(col(textCol), " "))).as("w"))
    val nd = audit.agg(count(lit(1)).as("nd"))
    val idf = tok.groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .withColumn("idf",
        TextAnalysis.quarterLog2(col("nd")) - TextAnalysis.quarterLog2(col("df")) + 1)
      .select(col("w"), col("idf"))
    val wtok = PinnedCache.pin(tok.join(idf, "w"))
    val docw = wtok.groupBy(col("doc_id")).agg(sum(col("idf")).as("wt"))
    val inter = wtok.as("a")
      .join(wtok.as("b"), col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.idf")).as("inter_w"))
    inter
      .join(docw.select(col("doc_id").as("a_id"), col("wt").as("wa")), "a_id")
      .join(docw.select(col("doc_id").as("b_id"), col("wt").as("wb")), "b_id")
      .withColumn("union_w", col("wa") + col("wb") - col("inter_w"))
      .withColumn("wj_ppm", expr("(inter_w * 1000000) div union_w"))
      .where(col("wj_ppm") >= thresholdPpm)
      .select(col("a_id"), col("b_id"), col("inter_w"), col("union_w"), col("wj_ppm"))
  }

  /** Distinct int64-hashed element sets at the chosen granularity:
    * (doc_id, s). k = 1 → unigram tokens, k >= 2 → k-shingles. */
  def elementSets(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    if (k <= 1)
      df.select(col(idCol).as("doc_id"),
          array_distinct(transform(split(col(textCol), " "), t => xxhash64(t))).as("s"))
        .where(size(col("s")) >= 1)
    else hashedShingleSets(df, textCol, idCol, k)

  /** Element frequencies over a sets frame: (tok, cnt). */
  def elementFrequencies(sets: DataFrame): DataFrame =
    sets.select(explode(col("s")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** Sets re-sorted RAREST-FIRST under the (frequency, element hash) total
    * order given by `tf` — the shared substrate of the prefix-filter joins
    * ([[prefixJaccardPairs]], [[containmentPairs]]). Elements absent from
    * `tf` count as frequency 0 (rarest of all) — exactly right for
    * probe-vs-corpus containment, where a probe element unseen in the
    * corpus guarantees zero matches and should dominate the prefix.
    * Output: (doc_id, toks, n). One annotation join + a map-side
    * array_sort. */
  def rarestFirstSets(sets: DataFrame, tf: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("s")).as("tok"))
      .join(tf, Seq("tok"), "left_outer")
      .na.fill(0L, Seq("cnt"))
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("cnt"), col("tok")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), s => s.getField("tok")).as("toks"))
      .withColumn("n", size(col("toks")))

  /** [[rarestFirstSets]] under the sets' own frequencies (self-join use). */
  def rarestFirstSets(sets: DataFrame): DataFrame =
    rarestFirstSets(sets, elementFrequencies(sets))

  /** ASYMMETRIC containment join: pairs (a in `probe`, b in `corpus`),
    * a != b, with |A∩B|/|A| >= `threshold` — "some corpus doc contains
    * (most of) probe doc a". The pair shape Jaccard MISSES by
    * construction: a short doc fully quoted inside a long one has tiny
    * Jaccard but containment 1.0 — and the probe-vs-corpus signature IS
    * the production shape (is any BENCHMARK/licensed doc contained in the
    * training corpus?): cost scales with |probe| × collision rate, never
    * corpus², the same asymmetry as [[incrementalNearDups]]. Pass the
    * corpus as both sides for the (output-bound — a template corpus's
    * containment list is inherently quadratic) self-audit.
    *
    * Prefix filter, containment flavor: |A∩B| >= ceil(t·|A|) means A's
    * shared tokens cannot all hide in its last ceil(t·|A|)-1 rarest-first
    * positions, so A's prefix of length |A| - ceil(t·|A|) + 1 shares a
    * token with B — but B's matching token can sit ANYWHERE in B, so the
    * CORPUS side indexes ALL its tokens (the inverted-index side). At
    * t = 1.0 (exact subset) A's prefix is its single rarest token. Ranks
    * come from CORPUS frequencies; a probe token absent from the corpus
    * ranks rarest of all (frequency 0), which is optimal: it proves zero
    * matches at t = 1 and the candidate join emits nothing. Bucket skew
    * stays bounded because a globally common token (big corpus bucket) is
    * almost never any probe doc's rarest-prefix token (tiny probe
    * bucket). A length filter |B| >= ceil(t·|A|) prunes in the join
    * condition. */
  def containmentPairs(probe: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // corpus sets feed frequencies, the inverted index, and the verify
    // join; probe sets feed prefixes and verify — cache both (q26 lesson)
    val corpusSets = PinnedCache.pin(elementSets(corpus, textCol, idCol, 1))
    val sortedProbe = PinnedCache.pin(rarestFirstSets(
      elementSets(probe, textCol, idCol, 1), elementFrequencies(corpusSets)))
    val prefixes = sortedProbe
      .select(col("doc_id"), col("n"),
        explode(slice(col("toks"), lit(1),
          (col("n") - ceil(col("n") * threshold).cast("int") + 1))).as("tok"))
    val full = corpusSets
      .select(col("doc_id").as("b_id"), size(col("s")).as("bn"),
        explode(col("s")).as("tok"))
    val candidates = prefixes.as("a")
      .join(full.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") =!= col("b.b_id") &&
          col("b.bn").cast("double") >= ceil(col("a.n") * threshold))
      .select(col("a.doc_id").as("a_id"), col("b.b_id").as("b_id"))
      .distinct()
    candidates
      .join(sortedProbe.select(col("doc_id").as("a_id"), col("toks").as("sa")), "a_id")
      .join(corpusSets.select(col("doc_id").as("b_id"), col("s").as("sb")), "b_id")
      .withColumn("containment",
        size(array_intersect(col("sa"), col("sb"))).cast("double") / size(col("sa")))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("containment"), 6).as("containment"))
  }

  /** Exact repeated-span profile (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): every k-token sliding span is
    * fingerprinted; a span occurring >= 2 times anywhere in the corpus
    * (same doc or another) is "duplicated"; per doc the duplicated spans
    * are merged into maximal contiguous regions and the covered-token
    * count reported. This is the span-LEVEL sibling of the doc-level
    * dedup family (q24 exact / q26 minhash): it finds boilerplate
    * passages embedded inside otherwise-unique documents, which doc-level
    * dedup cannot see.
    *
    * Scale design: span generation is MAP-ONLY (the token array is
    * projected once and the k-gram hashes come from one `transform` over
    * it — the hoisted-lambda rule, DEVNOTES #10). The only shuffles are
    * (1) the groupBy on the 8-byte span hash with map-side partial
    * aggregation — at 100 TB this moves (hash, partial count) pairs, not
    * text; (2) a semi join of spans against the duplicated-hash set;
    * (3) the per-doc window for region merging, bounded by tokens-per-doc.
    * No all-pairs stage exists at any scale. Span identity uses the
    * portable 60-bit md5 hash ([[Sampling.portableHash]]) so the DuckDB
    * oracle replicates the grouping bit-exactly (the q24/q25 convention).
    *
    * Region merge: spans are [pos, pos+k-1]; a new region starts when the
    * gap from the previous flagged span exceeds k (pos - prev > k leaves
    * an uncovered token between the two intervals). Equal-length
    * intervals make the running-max-end formulation collapse to a lag
    * comparison. Returns one row per input doc (zero-filled when nothing
    * is duplicated): (doc_id, n_tokens, dup_spans, dup_regions,
    * dup_tokens, dup_frac). */
  /** (doc_id, pos, h): every k-token sliding span of every doc, as the
    * portable 60-bit md5 hash — MAP-ONLY (token array projected once, one
    * `transform` over it; the hoisted-lambda rule, DEVNOTES #10). Docs
    * shorter than k emit nothing. */
  def spanFrame(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span length must be >= 2, got $k")
    val spanHash = (0 until k).map(j => s"toks[i + $j]").mkString(", ")
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .where(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, size(toks) - $k),
           |  i -> cast(conv(substring(md5(concat_ws(' ', $spanHash)), 1, 15),
           |                 16, 10) as bigint))""".stripMargin))
        .as(Seq("pos", "h")))
  }

  def spanDupProfile(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spansC = PinnedCache.pin(spanFrame(df, textCol, idCol, k))
    val dupHashes = spansC.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt")).where(col("cnt") >= 2).select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val regions = spansC.join(dupHashes, Seq("h"), "left_semi")
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= k, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("rid", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("rid"))
      .agg(count(lit(1)).as("spans"),
        (max(col("pos")) - min(col("pos")) + k).cast("long").as("covered"))
    val perDoc = regions.groupBy(col("doc_id"))
      .agg(sum(col("spans")).as("dup_spans"),
        count(lit(1)).as("dup_regions"),
        sum(col("covered")).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_regions"), lit(0L)).as("dup_regions"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens")).as("dup_frac"))
  }

  /** Span NOVELTY in corpus order — the keep/drop side of span dedup: a
    * span occurrence is novel iff no equal span occurred earlier in
    * (doc_id, pos) order (Lee et al. keep-first-occurrence semantics,
    * where [[spanDupProfile]] only flags that duplication EXISTS). Per
    * doc: total spans, novel spans, and spans already seen. The streaming
    * twin ([[graft.streaming.TransformWithStateOps.streamingSpanNovelty]])
    * maintains the same first-occurrence rule incrementally and
    * reconciles exactly.
    *
    * The ranking is one window over the span-hash partitions — a shuffle
    * by 8-byte hash with per-partition groups bounded by a span's
    * occurrence count, never a global sort. */
  def spanNoveltyProfile(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(
      Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos")))
    val perDoc = spanFrame(df, textCol, idCol, k)
      .withColumn("novel", (rn === 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("novel")).as("novel_spans"))
    df.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("novel_spans"), lit(0L)).as("novel_spans"),
        (coalesce(col("n_spans"), lit(0L)) -
          coalesce(col("novel_spans"), lit(0L))).as("seen_before"))
  }

  /** MOSS-style winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003):
    * per document, hash every word `k`-gram, slide a window of `w`
    * consecutive hashes, and select each window's minimum — ties broken
    * toward the RIGHTMOST position (the robust-winnowing rule). The
    * selected (hash, pos) set is the document's fingerprint; the guarantee
    * is that any shared run of >= w + k - 1 words produces at least one
    * shared fingerprint, while density stays ~2/(w+1).
    *
    * Portability: hashes are the 60-bit md5-derived [[Sampling.portableHash]]
    * reduced mod 2^40, and the rightmost-min tie rule rides ONE integer key
    * c = h40·2^20 + (2^20 − 1 − pos), so a single MIN is the whole
    * selection rule in both engines. Requires < 2^20 k-grams per document
    * (a 1 M-word doc; corpus scale is doc COUNT, not doc length).
    * Documents with fewer than w k-grams yield no fingerprints
    * (documented; they are shorter than the guarantee window).
    *
    * Shape: map-only gram+hash, one (doc)-partitioned ordered window for
    * the sliding min, one distinct — no joins, no global sort. Scales. */
  def winnowingFingerprints(df: DataFrame, textCol: String, idCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = df
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.ngramsFromTokens("toks", k)).as(Seq("j", "g")))
    val hashed = grams.select(col("doc_id"), col("j"),
      (pmod(Sampling.portableHash(col("g")), lit(1L << 40)) * (1L << 20)
        + (lit((1L << 20) - 1) - col("j"))).as("c"))
    val sel = hashed
      .withColumn("gc", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("cmin", min(col("c")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("j"))
          .rowsBetween(0, w - 1)))
      .where(col("j") <= col("gc") - w)
      .select(col("doc_id"), col("cmin")).distinct()
    sel.select(col("doc_id"),
      expr("cmin div 1048576").as("fp"),
      (lit((1L << 20) - 1) - pmod(col("cmin"), lit(1L << 20))).as("pos"))
  }

  /** Document pairs sharing >= `minShared` winnowing fingerprints — the
    * plagiarism/boilerplate-overlap detector over
    * [[winnowingFingerprints]]. Fingerprints appearing in more than
    * `maxDocFreq` documents are dropped first (the standard
    * common-fingerprint stoplist: boilerplate that frequent is not
    * discriminative), which also BOUNDS the self-join fan-out at
    * maxDocFreq² rows per fingerprint — the scale guard, and unlike a
    * star-split it keeps the shared-count exact. */
  def winnowingOverlapPairs(fps: DataFrame, maxDocFreq: Int,
      minShared: Long): DataFrame = {
    val sets = fps.select(col("doc_id"), col("fp")).distinct()
    val keep = sets.groupBy(col("fp")).agg(count(lit(1)).as("d"))
      .where(col("d") <= maxDocFreq).select(col("fp"))
    val f = sets.join(keep, "fp")
    f.as("a")
      .join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Content-defined chunk frame (the q289 CDC core): token positions
    * hashed to 40-bit portable hashes, a chunk closes at any position
    * whose 3-token position-weighted window fingerprint is ≡ 0 mod 16,
    * and each chunk carries the order-sensitive content fingerprint
    * fpc = Σp·h − (start−1)·Σh. Returns (doc_id, source, cid, len, fpc).
    * Shared by the batch rollup (q289) and the streaming chunker twin
    * ([[graft.streaming.TransformWithStateOps.streamingCdcChunks]] parity). */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("p")
    val w3 = wDoc.rowsBetween(-2, 0)
    val t = docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("source"), (col("p0") + 1).cast("long").as("p"),
        pmod(Sampling.portableHash(col("tok")), lit(1099511627776L)).as("h"))
    val bnd = t.select(col("doc_id"), col("source"), col("p"), col("h"),
      when(col("p") >= 3 &&
        pmod(sum(col("p") * col("h")).over(w3) -
          (col("p") - 3) * sum(col("h")).over(w3), lit(16L)) === 0, 1L)
        .otherwise(0L).as("bnd"))
    bnd.select(col("doc_id"), col("source"), col("p"), col("h"),
        coalesce(sum("bnd").over(wDoc.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("cid"))
      .groupBy(col("doc_id"), col("source"), col("cid"))
      .agg(count(lit(1)).as("len"),
        (sum(col("p") * col("h")) - (min("p") - 1) * sum("h")).as("fpc"))
  }
}
