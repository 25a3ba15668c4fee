package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.{TextExprs, VectorOps}

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content hash), MinHash+LSH banding, SimHash, character-n-gram Jaccard,
  * and embedding-cosine near-dup — all built as blocked/bucketed joins so
  * no path ever materializes the full O(N^2) pair space.
  *
  * (Extension operators beyond the reference surface — SURVEY §2.9 E1/E2;
  * the reference itself dedups only by document id on upsert,
  * `/root/reference/executor.py:151-161`.)
  *
  * Scale shape shared by every near-dup variant here:
  *   signature (narrow map-side expr or partial agg) -> explode buckets ->
  *   shuffle on bucket key -> within-bucket pair join -> exact verify.
  * Bucket cardinality grows with N, so per-bucket pair counts stay bounded
  * and the shuffle key is the bucket — the plan that survives 100 TB.
  *
  * The middle of that shape is written once. Each family derives its own
  * bucket key (an xxhash band via [[bandExplode]], a portable string
  * band, a block struct, a deletion variant) and runs its own verify
  * (Jaccard, Hamming, cosine, Levenshtein); the pairs in between come
  * from three private helpers:
  *  - [[bucketPairs]]: the within-bucket self-join with id_a < id_b, the
  *    lowest-id cap per bucket and the star link of the overflow;
  *  - [[bucketOverflow]]: the members past the cap, the one aggregate
  *    behind every public overflow counter;
  *  - [[incrementalBucketPairs]]: new × (old ∪ new) pairs for the
  *    incremental-ingest operators.
  */
object Dedup {

  /** Stable content fingerprint for exact dedup. */
  def contentHash(c: Column): Column = md5(c.cast("binary"))

  /** Exact-duplicate groups: one row per distinct content with the
    * surviving (minimum) id and the multiplicity. Map-side partial
    * aggregation makes this one shuffle of distinct hashes only. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep the lowest id per distinct content. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Lowercase whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Distinct word n-shingles; short texts fall back to the whole token
    * string so every doc has at least one shingle.
    *
    * CAUTION (query-path cost): `text` is referenced once per shingle
    * inside the transform lambda, and Catalyst does NOT common-
    * subexpression-eliminate inside HOF lambdas — pass a MATERIALIZED
    * token-array column ([[wordShinglesOfTokens]]) from a separate
    * projection when the input is raw text, or the split() runs ~L times
    * per row. */
  def wordShingles(text: Column, n: Int): Column =
    wordShinglesOfTokens(tokens(text), n)

  /** [[wordShingles]] over an already-tokenized array column. */
  def wordShinglesOfTokens(ts: Column, n: Int): Column = {
    val joined = concat_ws(" ", ts)
    when(size(ts) >= n,
      array_distinct(transform(sequence(lit(1), size(ts) - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n))))))
      .otherwise(array(joined))
  }

  /** Distinct character n-grams. */
  def charNgrams(text: Column, n: Int): Column =
    when(length(text) >= n,
      array_distinct(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array(text))

  /** Exact Jaccard similarity of two array-set columns (assumed distinct),
    * in double precision. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  private def asCol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.GraftColumnBridge.column(e)
  private def asExpr(c: Column) =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  /** Distinct complete-word-shingle HASH set — the 64-bit-hash image of
    * [[wordShingles]] built by the codegen'd [[TextExprs.ShingleHashes]]
    * instead of interpreted string slicing (an order of magnitude cheaper
    * corpus-wide). Short docs fall back to one whole-token-string hash.
    * Set operations over these hashes equal the string-set results up to
    * negligible 64-bit collisions. */
  def shingleHashSet(textCol: Column, n: Int): Column = {
    val ts = tokens(textCol)
    when(size(ts) >= n,
      array_distinct(asCol(TextExprs.ShingleHashes(asExpr(ts), n, trailing = false))))
      .otherwise(array(xxhash64(concat_ws(" ", ts))))
  }

  /** (id, shingle-hash) rows from the codegen'd [[TextExprs.ShingleHashes]]
    * expression: the whole token array folds to its shingle hashes inside
    * one row — a narrow map stage, where the previous formulation
    * (posexplode + `lead()` windows, itself codegen'd) forced a
    * corpus-wide hash-partition shuffle + sort before any signature
    * existed. Trailing positions fall back to the position's own token
    * hash, so every non-empty doc emits at least one row. */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol),
      explode(asCol(TextExprs.ShingleHashes(
        asExpr(tokens(col(textCol))), n, trailing = true))).as("__h"))

  /** MinHash signatures: (id, sig: array<long>[numPerms]).
    *
    * One-permutation MinHash (Li, Owen, Zhang, NIPS 2012): each shingle is
    * hashed once (codegen'd xxhash64 — not numPerms interpreted passes),
    * the hash space is split into numPerms buckets by h mod numPerms, and
    * the signature slot is the per-bucket minimum. Empty buckets are
    * densified from the document's global minimum hash mixed with the slot
    * index — deterministic, and near-duplicate docs (which share their
    * global min shingle almost surely) densify identically, preserving
    * collision behavior. One narrow shuffle on (id, bucket); map-side
    * partial mins keep it skew-proof at corpus scale. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, numPerms: Int = 64): DataFrame = {
    // The whole signature — shingle hashes, per-bucket minima, rotation
    // densification (cf. Shrivastava's densified one-permutation
    // hashing: an empty slot borrows from the next filled one
    // cyclically, so near-duplicates densify identically wherever their
    // filled buckets agree) — is one codegen'd projection per ROW
    // ([[TextExprs.MinHashSig]] over [[TextExprs.ShingleHashes]]).
    // Signature construction shuffles NOTHING; a MinHash job's only
    // shuffle is the LSH band join. Empty-token docs are excluded, as
    // when the explode-based formulation emitted no rows for them.
    val ts = tokens(col(textCol))
    docs.filter(size(ts) > 0)
      .select(col(idCol), asCol(TextExprs.MinHashSig(
        asExpr(asCol(TextExprs.ShingleHashes(asExpr(ts), shingleN, trailing = true))),
        numPerms)).as("sig"))
  }

  /** LSH band hashes over a signature array: bands of rowsPerBand values,
    * each band hashed to one long. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** Candidate pairs whose signatures collide in at least one LSH band:
    * explode band hashes, shuffle on (band index, band hash), pair within
    * bucket with id_a < id_b.
    * @param maxBucketMembers per-(band, bucket) membership cap — the
    *   batch twin of `DedupStream.maxMembersPerBucket`'s bounded-state
    *   rule. The band hash is the shuffle key, so an adversarial corpus
    *   (every doc identical) collapses into ONE bucket and the self-join
    *   goes quadratic in N; the cap keeps the lowest-id members
    *   ([[bucketPairs]]). Dropped membership is observable via
    *   [[bandBucketDrops]] and gated by the `dedup_skew_gate` driver
    *   row. Default = uncapped (exact), matching the streaming default.
    * @param overflowLink hot-bucket policy for the rows past the cap:
    *   instead of vanishing from the candidate stage, each overflow
    *   member pairs once with its bucket's lowest id (the star link of
    *   [[bucketPairs]]), so a megabucket of verbatim copies keeps its
    *   connected component whole at linear cost. */
  private def bandCandidates(sigs: DataFrame, idCol: String,
                             bands: Int, rowsPerBand: Int,
                             maxBucketMembers: Int = Int.MaxValue,
                             overflowLink: Boolean = false): DataFrame =
    bucketPairs(sigs.select(col(idCol), bandExplode(col("sig"), bands, rowsPerBand)),
      idCol, BandKey, cap = maxBucketMembers, overflowLink = overflowLink).distinct()

  /** One (`__band`, `__bh`) row per LSH band of a signature column: the
    * bucket key of the xxhash-banded families. */
  private def bandExplode(sig: Column, bands: Int, rowsPerBand: Int): Column =
    posexplode(bandHashes(sig, bands, rowsPerBand)).as(BandKey)
  private val BandKey = Seq("__band", "__bh")

  /** The within-bucket pairs of `rows` (`idCol`, the `keys` columns and
    * the `payload` columns): every two rows that agree on all `keys`,
    * as (id_a, id_b, p + "a" for each payload p, p + "b" for each) with
    * id_a < id_b — one row per shared bucket, no `distinct` (the caller
    * dedupes where its verify wants it).
    *
    * `cap` keeps each bucket's lowest-id `cap` members (a row_number over
    * the key the join shuffles on: linear work, at most C(cap, 2) pairs
    * per bucket). With `overflowLink`, each member past the cap still
    * emits ONE pair, against the bucket's lowest id, so C(cap, 2) +
    * (n − cap) pairs per bucket; on verbatim boilerplate (every member a
    * true duplicate) those star links all verify and components stay
    * whole, and a link that fails verify degrades to the drop policy for
    * that member. `core`, `rep` and `over` each read the ranked frame and
    * each plans its own window: Spark reuses none of these exchanges.
    * Uncapped rows get a constant rank, which the optimizer folds away. */
  private def bucketPairs(rows: DataFrame, idCol: String, keys: Seq[String],
                          payload: Seq[String] = Nil, cap: Int = Int.MaxValue,
                          overflowLink: Boolean = false): DataFrame = {
    val out = (Seq("id_a", "id_b") ++ payload.map(_ + "a") ++ payload.map(_ + "b")).map(col)
    val ranked =
      if (cap == Int.MaxValue) rows.withColumn("__rn", lit(1))
      else rows.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))))
    val kept = ranked.filter(col("__rn") <= cap)
    val core = bucketSide(kept, idCol, keys, payload, "a")
      .join(bucketSide(kept, idCol, keys, payload, "b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(out: _*)
    if (!overflowLink || cap == Int.MaxValue) core
    else {
      // rep is the bucket's LOWEST id, so id_a < id_b holds by rank
      val rep = bucketSide(ranked.filter(col("__rn") === 1), idCol, keys, payload, "a")
      val over = bucketSide(ranked.filter(col("__rn") > cap), idCol, keys, payload, "b")
      core.unionByName(rep.join(over, keys).select(out: _*))
    }
  }

  /** One side of a bucket join: `idCol` as id_<s>, each payload p as
    * p + s, then the keys. */
  private def bucketSide(rows: DataFrame, idCol: String, keys: Seq[String],
                         payload: Seq[String], s: String): DataFrame =
    rows.select((col(idCol).as(s"id_$s") +: payload.map(p => col(p).as(p + s))) ++
      keys.map(col): _*)

  /** Pairs touching at least one NEW row: `newRows` joined on `keys` to
    * `oldRows` ∪ `newRows`, never old × old. Output as [[bucketPairs]]'
    * (id_a < id_b, payload oriented with the ids); a new × new pair
    * arrives once per orientation, so the caller dedupes. */
  private def incrementalBucketPairs(newRows: DataFrame, oldRows: DataFrame, idCol: String,
                                     keys: Seq[String], payload: Seq[String] = Nil): DataFrame = {
    def side(rows: DataFrame, s: String) = bucketSide(rows, idCol, keys, payload, s)
    val newFirst = col("id_a") < col("id_b")
    side(newRows, "a").join(side(oldRows, "b").unionByName(side(newRows, "b")), keys)
      .filter(col("id_a") =!= col("id_b"))
      .select(Seq(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b")) ++
        payload.map(p => when(newFirst, col(p + "a")).otherwise(col(p + "b")).as(p + "a")) ++
        payload.map(p => when(newFirst, col(p + "b")).otherwise(col(p + "a")).as(p + "b")): _*)
  }

  /** Members past `cap`, summed over the buckets of `rows` keyed by
    * `keys`, as one row (n_overflow) — one linear aggregate that never
    * forms pairs. */
  private def bucketOverflow(rows: DataFrame, keys: Seq[String], cap: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(coalesce(sum(greatest(col("__n") - lit(cap.toLong), lit(0L))),
        lit(0L)).as("n_overflow"))

  /** Observable eviction count for a capped band join: total members
    * beyond `maxBucketMembers` across all (band, bucket) groups — the
    * batch analog of the streaming path's `droppedAcc`. */
  def bandBucketDrops(sigs: DataFrame, idCol: String = "doc_id",
                      numPerms: Int = 32, bands: Int = 16,
                      maxBucketMembers: Int = Int.MaxValue): DataFrame =
    bucketOverflow(sigs.select(col(idCol), bandExplode(col("sig"), bands, numPerms / bands)),
      BandKey, maxBucketMembers).toDF("n_dropped")

  /** [[bandBucketDrops]] for the SimHash band join: members beyond
    * `maxBucketMembers` across all (band, bit-slice bucket) groups.
    * Under the drop policy these members vanish from the candidate
    * stage; under the link policy each degrades to one star link against
    * the bucket representative — either way the count is the observable
    * skew signal. */
  def simhashBucketOverflow(rawSigs: DataFrame, idCol: String = "doc_id",
                            bands: Int = 4,
                            maxBucketMembers: Int = Int.MaxValue): DataFrame =
    bucketOverflow(rawSigs.select(col(idCol), bandExplode(col("simhash"), bands, 64 / bands)),
      BandKey, maxBucketMembers)

  /** Block-membership overflow for [[cosinePairsBlocked]]: members beyond
    * `maxBlockMembers` across all blocks. `blockExprs` must match the
    * pair call's. */
  def blockOverflow(emb: DataFrame, blockExprs: Seq[Column],
                    idCol: String = "vec_id",
                    maxBlockMembers: Int = Int.MaxValue): DataFrame =
    bucketOverflow(emb.select(col(idCol), struct(blockExprs: _*).as("__blk")),
      Seq("__blk"), maxBlockMembers)

  /** Public window into the LSH candidate stage: pairs whose signatures
    * collide in >= 1 band, distinct, id_a < id_b — the batch twin the
    * streaming dedup's equivalence spec compares against
    * ([[graft.streaming.DedupStream.nearDupCandidatesStream]]). */
  def minhashCandidates(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        numPerms: Int = 32, bands: Int = 16): DataFrame =
    minhashCandidatesFromSigs(minhashSignatures(docs, idCol, textCol, shingleN, numPerms),
      idCol, numPerms, bands)

  /** [[minhashCandidates]] over a PRECOMPUTED (id, sig) frame. The band
    * self-join references `sigs` on both sides, so a caller that pins the
    * frame (`localCheckpoint`) halves signature construction — and a
    * caller sharing one signature frame across several consumers (the
    * per-round agreement gates) pays construction once total. */
  def minhashCandidatesFromSigs(sigs: DataFrame, idCol: String = "doc_id",
                                numPerms: Int = 32, bands: Int = 16,
                                maxBucketMembers: Int = Int.MaxValue,
                                overflowLink: Boolean = false): DataFrame =
    bandCandidates(sigs, idCol, bands, numPerms / bands, maxBucketMembers, overflowLink)

  /** INCREMENTAL near-dup candidates: pairs touching at least one doc of
    * the NEW batch — new×old and new×new, never old×old (those were
    * emitted when the old corpus was deduped). The recurring-crawl shape
    * at scale: each ingest pays band-join work proportional to the DELTA
    * (new band rows vs the buckets they actually collide with), not a
    * re-pairing of the whole corpus — the batch twin of
    * [[graft.streaming.DedupStream.nearDupCandidatesStream]]'s
    * state-vs-arrivals contract, materialized relationally so a
    * scheduled batch pipeline gets it without a streaming runtime.
    * Contract (spec-pinned): incremental(old, new) ==
    * candidates(old ∪ new) − candidates(old). Both inputs are
    * [[minhashSignatures]] frames (id, sig). For adversarial ingest
    * skew use the streaming path's bounded state, or cap the union
    * yourself — this operator is the exact delta. */
  def minhashCandidatesIncremental(oldSigs: DataFrame, newSigs: DataFrame,
                                   idCol: String = "doc_id",
                                   numPerms: Int = 32, bands: Int = 16): DataFrame = {
    def rows(sigs: DataFrame) =
      sigs.select(col(idCol), bandExplode(col("sig"), bands, numPerms / bands))
    incrementalBucketPairs(rows(newSigs), rows(oldSigs), idCol, BandKey).distinct()
  }

  /** [[minhashCandidatesIncremental]] with the exact-Jaccard verification
    * of [[minhashPairsFromSigs]]: `docs` must cover BOTH sides' ids. */
  def minhashPairsIncremental(docs: DataFrame, oldSigs: DataFrame, newSigs: DataFrame,
                              idCol: String = "doc_id", textCol: String = "text",
                              shingleN: Int = 3, numPerms: Int = 32, bands: Int = 16,
                              threshold: Double = 0.4): DataFrame =
    verifyJaccard(docs, minhashCandidatesIncremental(oldSigs, newSigs, idCol, numPerms, bands),
      idCol, threshold)(_.select(col(idCol), shingleHashSet(col(textCol), shingleN).as("__set")))

  /** [[minhashCandidatesIncremental]] for the SimHash family: verified
    * pairs touching at least one NEW doc — the signature rides the band
    * explode on both sides so Hamming verification happens inside the
    * join, exactly as [[simhashPairsFromSigs]]. Contract (spec-pinned):
    * incremental == full(old ∪ new) − full(old). The same delta shape
    * applies to any banded family (embedding sign-LSH included) — the
    * band explode is per-row, so only the join's sides change. */
  def simhashPairsIncremental(oldSigs: DataFrame, newSigs: DataFrame,
                              idCol: String = "doc_id",
                              maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    def rows(sigs: DataFrame) = sigs.select(col(idCol), col("simhash").as("__h"),
      bandExplode(col("simhash"), bands, 64 / bands))
    hammingVerify(incrementalBucketPairs(rows(newSigs), rows(oldSigs), idCol, BandKey,
      Seq("__h")), maxHamming)
  }

  /** MinHash near-dup pairs, exact-verified: LSH candidates filtered by
    * true shingle-set Jaccard >= threshold.
    * @return (id_a, id_b, jaccard) with jaccard rounded to 4dp */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   shingleN: Int = 3, numPerms: Int = 32, bands: Int = 16,
                   threshold: Double = 0.4): DataFrame =
    minhashPairsFromSigs(docs, minhashSignatures(docs, idCol, textCol, shingleN, numPerms),
      idCol, textCol, shingleN, numPerms, bands, threshold)

  /** [[minhashPairs]] with the signature frame supplied by the caller
    * (e.g. pinned once and shared across the agreement gates); `docs` is
    * still scanned for the exact shingle-set verify, which builds sets
    * for candidate docs only and pins the candidates and those sets when
    * called. `sigs` must be the [[minhashSignatures]] of `docs` at the
    * same (shingleN, numPerms). */
  def minhashPairsFromSigs(docs: DataFrame, sigs: DataFrame,
                           idCol: String = "doc_id", textCol: String = "text",
                           shingleN: Int = 3, numPerms: Int = 32, bands: Int = 16,
                           threshold: Double = 0.4): DataFrame = {
    // Sets are distinct shingle HASHES (codegen'd): Jaccard over 64-bit
    // hash sets equals Jaccard over the string sets up to negligible
    // collisions, without the interpreted string-slice set construction
    // in the verify hot path. Mirrors [[wordShingles]] exactly: complete
    // shingles only, short docs fall back to one whole-token-string hash.
    verifyJaccard(docs, bandCandidates(sigs, idCol, bands, numPerms / bands), idCol,
      threshold)(_.select(col(idCol), shingleHashSet(col(textCol), shingleN).as("__set")))
  }

  /** Exact-Jaccard verify shared by the MinHash pair operators: candidate
    * pairs (id_a, id_b) joined on both sides to the per-doc sets that
    * `setsOf` builds as `(idCol, __set)` from a frame of `docs` rows,
    * kept at `round(jaccard, 4) >= threshold`.
    *
    * Only candidate docs get a set. The candidate ids are broadcast into
    * a semi-join against `docs`, so no doc text is shuffled, and the
    * sets of those docs are the broadcast build side of both pair joins.
    * Building sets for the whole corpus, once per join side, was most of
    * the verify's cost: on 10k docs with ~1.1k candidate pairs the pair
    * step's work CPU fell from ~1.4 s to ~0.7 s (4 vCPU Xeon). The plan
    * reads the candidates three times and the sets twice, and Spark
    * reused none of those exchanges over a cached corpus (each reference
    * re-ran the band join: 19 jobs, and more CPU than the corpus-wide
    * build), so both are pinned with `localCheckpoint` at call time: the
    * band join runs once and each candidate doc's set is built once.
    * Sets are built BEFORE the joins, so the set expression never lands
    * in a join condition (a variant that built them after joining raw
    * text inlined them into the broadcast-join condition and broadcast
    * the corpus text twice). The semi-join keeps every `docs` row of a
    * repeated id, so such an id verifies once per row. */
  private def verifyJaccard(docs: DataFrame, cands: DataFrame, idCol: String,
                            threshold: Double)(setsOf: DataFrame => DataFrame): DataFrame = {
    val pinned = cands.localCheckpoint(true)
    val ids = pinned.select(col("id_a").as(idCol)).union(pinned.select(col("id_b").as(idCol)))
    val sets = setsOf(docs.join(broadcast(ids), Seq(idCol), "left_semi")).localCheckpoint(true)
    pinned
      .join(sets.select(col(idCol).as("id_a"), col("__set").as("__sa")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__set").as("__sb")), "id_b")
      .withColumn("jaccard", round(jaccard(col("__sa"), col("__sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Survivors after near-dup removal: drop any doc that pairs with a
    * lower-id near-duplicate (keep-first policy). */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
                         idCol: String = "doc_id"): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Exact transitive duplicate groups: connected components of the
    * near-dup pair graph. The pairwise keep-first policy of
    * [[dropNearDuplicates]] misses chains (a~b, b~c but not a~c);
    * components make "one survivor per duplicate CLUSTER" exact — the
    * policy production dedup pipelines actually want.
    *
    * Two paths, one result:
    *  - Up to a fixed edge bound (a private constant, 1M edges), with
    *    integral ids (any other id type takes the second path), the edges
    *    come to the driver in one bounded collect (`limit(bound + 1)`),
    *    a union-find with min-id roots closes every component whatever
    *    its diameter, and the labels return as `docs` left-joined to a
    *    broadcast local (id, component) frame. The call starts one job
    *    for the collect (a few on a many-partition pair frame); the
    *    returned frame never re-reads `pairs`.
    *  - Above the bound, iterative min-label propagation runs on the
    *    cluster ([[labelPropagation]]): one join + aggregate per round
    *    over the edge set, labels `localCheckpoint`ed per round, rounds =
    *    graph diameter. `maxIter` caps this path only.
    *
    * An edge through an id that is NOT in `docs`: union-find joins its
    * two sides through it; propagation passes no label through it (its
    * id can still seed a neighbour's label). Every caller passes pairs
    * drawn from its `docs` (the semantic dedup passes `docs` = every pair
    * id), where the two paths agree.
    *
    * @param docs  corpus — every id gets a component (singletons map to
    *              themselves)
    * @param pairs (id_a, id_b) undirected near-dup edges
    * @return (idCol, component) with component = min id reachable
    */
  def duplicateComponents(docs: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id", maxIter: Int = 20): DataFrame =
    duplicateComponentsChecked(docs, pairs, idCol, maxIter)._1

  /** [[duplicateComponents]] with the convergence status surfaced. The
    * driver path always converges (`true`). On the propagation path the
    * iteration count is a DEFENSIVE CAP, not a convergence proof:
    * min-label propagation needs O(graph diameter) rounds, and a
    * pathological chain a~b~c~…~z at corpus scale could exceed any fixed
    * budget. Rather than loop unboundedly on a cluster, the cap bails
    * out with the CURRENT labels (a refinement of the true components:
    * every emitted group is genuinely connected — unconverged means some
    * groups may not yet be fully merged) plus `converged = false` so the
    * caller can log, alert, or re-run with a larger budget.
    *
    * @return (labels (idCol, component), converged) */
  def duplicateComponentsChecked(docs: DataFrame, pairs: DataFrame,
                                 idCol: String = "doc_id",
                                 maxIter: Int = 20): (DataFrame, Boolean) = {
    val edges = pairs.select(col("id_a"), col("id_b")).na.drop()
    val labelType = edges.select(least(col("id_a"), col("id_b"))).schema.head.dataType
    lazy val rows = edges.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .limit(DriverComponentsMaxEdges + 1).collect()
    if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(labelType) ||
        rows.length > DriverComponentsMaxEdges)
      labelPropagation(docs, pairs, idCol, maxIter)
    else {
      val parent = minIdUnionFind(rows.iterator.map(r => (r.getLong(0), r.getLong(1))))
      val labels = docs.sparkSession.createDataFrame(parent.toSeq).toDF("__id", "__c")
      (docs.select(col(idCol).as("__doc"))
        .join(broadcast(labels), col("__doc") === col("__id"), "left")
        .select(col("__doc").as(idCol),
          coalesce(col("__c").cast(labelType), col("__doc")).as("component")), true)
    }
  }

  // Edge bound of the driver path of [[duplicateComponentsChecked]]: 1M
  // edges are 16 MB of id payload in the collect and at most 2M labels
  // (32 MB) in the frame broadcast back, well inside the 2 GiB floor of
  // the driver heap; a duplicate graph larger than this is corpus-scale
  // work and stays distributed.
  private val DriverComponentsMaxEdges = 1000000

  /** Union-find with min-id roots over an edge list: id -> least id of
    * its connected component, for every id that is not that least id
    * itself (a root labels itself). */
  private def minIdUnionFind(edges: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.contains(root)) root = parent(root)
      var y = x
      while (y != root) { val next = parent(y); parent(y) = root; y = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.foreach(find)
    parent
  }

  /** The propagation path of [[duplicateComponentsChecked]], also its
    * whole result above the driver path's edge bound: the direct-
    * neighbour minimum seeds every label, then each round takes the
    * minimum over neighbours' labels until no label changes or `maxIter`
    * rounds ran. */
  private[graft] def labelPropagation(docs: DataFrame, pairs: DataFrame, idCol: String,
                                      maxIter: Int): (DataFrame, Boolean) = {
    val edges = pairs.select(col("id_a"), col("id_b"))
    val sym = edges
      .union(edges.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint(true)
    // seed with the direct-neighbor minimum — equivalent to running the
    // first propagation round, one join+agg cheaper
    val seed = sym.groupBy(col("id_a"))
      .agg(min(least(col("id_a"), col("id_b"))).as("__s"))
      .withColumnRenamed("id_a", "id")
    var labels = docs.select(col(idCol).as("id"))
      .join(seed, Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), col("id")).as("component"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = sym.join(labels, sym("id_b") === labels("id"))
        .groupBy(sym("id_a").as("id")).agg(min(col("component")).as("__n"))
      // carry the previous label through the update so convergence is a
      // column compare on the already-pinned frame, not another join
      // back against `labels` (one fewer join+shuffle per round)
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__n"), col("component"))).as("component"),
          col("component").as("__old"))
        .localCheckpoint(true)
      converged = updated.filter(col("component") =!= col("__old")).isEmpty
      labels = updated.select(col("id"), col("component"))
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateComponents hit the $maxIter-iteration cap before convergence; " +
        "returning partially-merged labels (converged=false)")
    (labels.select(col("id").as(idCol), col("component")), converged)
  }

  /** SimHash signatures as 64 sign bits: (id, simhash: array<int>).
    * Bit i is the sign of sum over features of +-1 depending on bit i of
    * the feature hash — computed with one explode + 64 map-side partial
    * sums. Features are word 2-shingles, not unigrams: on a corpus with a
    * small shared vocabulary, unigram signatures collapse to near-identical
    * fingerprints for every doc (the bag-of-words profile is global, not
    * per-doc) and LSH buckets degenerate; bigrams restore per-doc signal. */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        bits: Int = 64): DataFrame = {
    // per-row codegen'd bit-vote ([[TextExprs.SimHashBits]] over bigram
    // shingle hashes) — no explode, no aggregation, no shuffle
    val ts = tokens(col(textCol))
    docs.filter(size(ts) > 0)
      .select(col(idCol), asCol(TextExprs.SimHashBits(
        asExpr(asCol(TextExprs.ShingleHashes(asExpr(ts), 2, trailing = true))),
        bits)).as("simhash"))
  }

  /** Hamming distance between two equal-length bit arrays. */
  def hamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x - y)), lit(0), (acc, v) => acc + v)

  /** SimHash near-dup pairs verified by exact Hamming distance <=
    * maxHamming. Banding over bit slices guarantees recall when
    * maxHamming < bands (pigeonhole: some band must match exactly).
    * Default is the classic 64-bit / 4-block / hamming<=3 layout: narrow
    * 16-bit bands keep buckets selective even when signatures correlate
    * across a corpus with shared vocabulary (8-bit bands degenerate into
    * megabuckets and candidate blowup there). */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                   maxHamming: Int = 3, bands: Int = 4): DataFrame =
    simhashPairsFromSigs(simhashSignatures(docs, idCol, textCol, 64),
      idCol, maxHamming, bands)

  /** [[simhashPairs]] over a PRECOMPUTED (id, simhash) frame (the
    * [[simhashSignatures]] output, possibly pinned and shared with other
    * consumers — the brute-force agreement gate reads the same frame).
    * `maxBucketMembers`/`overflowLink` are the hot-bucket bound the
    * MinHash band join carries ([[minhashCandidatesFromSigs]]): keep the
    * lowest-id cap members per (band, bucket); with the link policy each
    * overflow member still pairs against the bucket representative, so
    * an all-identical megabucket (hamming 0 throughout — every link
    * verifies) keeps its duplicate component whole at linear cost. */
  def simhashPairsFromSigs(rawSigs: DataFrame, idCol: String = "doc_id",
                           maxHamming: Int = 3, bands: Int = 4,
                           maxBucketMembers: Int = Int.MaxValue,
                           overflowLink: Boolean = false): DataFrame = {
    // The signature rides along through the band explode, so Hamming
    // verification happens inside the bucket join itself — no cache, no
    // re-join against the signature subplan. Costs one extra signature
    // copy per band row in the shuffle (64 ints), buys a single
    // computation of the explode+64-sum subplan instead of three and
    // leaves no corpus-sized block pinned in executor memory.
    val sigs = rawSigs.withColumnRenamed("simhash", "sig")
    hammingVerify(bucketPairs(sigs.select(col(idCol), col("sig").as("__h"),
        bandExplode(col("sig"), bands, 64 / bands)),
      idCol, BandKey, Seq("__h"), maxBucketMembers, overflowLink), maxHamming)
  }

  /** The SimHash verify over bucket pairs carrying signatures `__ha` /
    * `__hb`: distinct (id_a, id_b, hamming) at hamming <= maxHamming. */
  private def hammingVerify(pairs: DataFrame, maxHamming: Int): DataFrame =
    pairs.withColumn("hamming", hamming(col("__ha"), col("__hb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .distinct()

  /** (id, char-n-gram hash) rows via [[TextExprs.ShingleHashes]] over the
    * per-char split — same narrow-map shape as [[shingleHashes]], only
    * complete n-grams (no trailing fallback). Docs shorter than n fall
    * back to one whole-text hash, mirroring [[charNgrams]]' `otherwise`
    * branch (and the dedup_ngram oracle's ELSE) so they still join.
    * Hash arithmetic is Spark's multi-arg xxhash64 over the char columns
    * — values identical to the previous window formulation. */
  def charNgramHashes(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val short = docs.filter(length(col(textCol)) < n)
      .select(col(idCol), xxhash64(col(textCol)).as("__h"))
    docs.select(col(idCol),
        explode(asCol(TextExprs.ShingleHashes(
          asExpr(split(col(textCol), "")), n, trailing = false))).as("__h"))
      .unionByName(short)
  }

  /** Exact character-n-gram Jaccard pairs within blocks: `blockExpr`
    * assigns each doc a blocking key (e.g. a prefix hash); only
    * within-block pairs are compared, so cost is sum of block sizes
    * squared, not N^2. Sets are distinct n-gram hashes — Jaccard over
    * hash sets equals Jaccard over the string sets (64-bit collisions
    * are negligible), at a fraction of the compare cost. */
  def ngramJaccardPairs(docs: DataFrame, blockExpr: Column,
                        idCol: String = "doc_id", textCol: String = "text",
                        n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // referenced from both sides of the pair join; recomputed rather than
    // cached — the set build is a narrow codegen'd stage, and an operator
    // that pins a corpus-derived table in executor memory is a hazard at
    // the scale this module targets
    val sets = charNgramHashes(docs, idCol, textCol, n)
      .groupBy(col(idCol)).agg(collect_set(col("__h")).as("__set"))
      .join(docs.select(col(idCol), blockExpr.as("__blk")), Seq(idCol))
      .select(col(idCol), col("__set").as("__s"), col("__blk"))
    bucketPairs(sets, idCol, Seq("__blk"), Seq("__s"))
      .withColumn("jaccard", round(jaccard(col("__sa"), col("__sb")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // --------------------------------------------------------------------
  // Portable-hash (md5) twins of the MinHash / SimHash pipelines.
  //
  // The flagship paths hash with codegen'd xxhash64 — the perf choice, but
  // xxhash64 exists in no other engine, so their outputs can't be oracled
  // cross-engine. These twins run the SAME pipeline shapes over a 60-bit
  // md5-derived hash both Spark and DuckDB compute bit-identically:
  //   Spark:  conv(substr(md5(s), 1, 15), 16, 10) :: long
  //   DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
  // (15 hex chars = 60 bits, always positive — no sign/overflow edge in
  // either engine, ANSI-safe.) Same banding geometry as the flagships, so
  // candidate-recall behavior matches up to the hash family; an agreement
  // spec pins the two pipelines to the same verified pairs on fixtures.
  // --------------------------------------------------------------------

  /** 60-bit portable hash: identical arithmetic in Spark and DuckDB. */
  def portableHash64(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Trailing word-n-shingle STRINGS, one per token position;
    * out-of-range components fall back to token i — the string-level
    * mirror of [[TextExprs.ShingleHashes]]'s `trailing = true` contract.
    * `ts` must be a MATERIALIZED token-array column (HOF-lambda CSE). */
  private[graft] def trailingShingleStrings(ts: Column, n: Int): Column =
    // the empty guard matters: sequence(1, 0) is DESCENDING [1, 0] in
    // Spark, so an unguarded transform would element_at an empty array
    when(size(ts) >= 1,
      transform(sequence(lit(1), size(ts)), i =>
        concat_ws(" ", (0 until n).map { j =>
          if (j == 0) element_at(ts, i)
          else when(i + lit(j) <= size(ts), element_at(ts, i + lit(j)))
            .otherwise(element_at(ts, i))
        }: _*)))
      .otherwise(array().cast("array<string>"))

  /** MinHash near-dup pairs over the portable hash — same one-permutation
    * signature, rotation densification, banded candidates, and exact
    * shingle-set Jaccard verify as [[minhashPairs]], built from plain
    * DataFrame aggregations (the pre-codegen formulation) so a SQL oracle
    * can reproduce every intermediate bit-for-bit. Signature construction
    * costs one narrow shuffle on (id, bucket) — the price of portability;
    * the xxhash64 flagship remains the perf path. */
  def minhashPairsPortable(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", shingleN: Int = 3,
                           numPerms: Int = 32, bands: Int = 16,
                           threshold: Double = 0.4): DataFrame =
    minhashPairsPortableFromSigs(docs,
      minhashSignaturesPortable(docs, idCol, textCol, shingleN, numPerms),
      idCol, textCol, shingleN, numPerms, bands, threshold)

  /** Portable (md5) one-permutation MinHash signatures: (id, __sig).
    * The whole signature is ONE codegen'd per-row projection, exactly
    * the flagship's shape: [[TextExprs.Md5ShingleHashes]] (the compiled
    * portable-hash kernel) feeding the SAME codegen'd
    * [[TextExprs.MinHashSig]] reducer the flagship uses — its bucket
    * arithmetic (pmod(h, p) buckets, min per bucket, cyclic rotation
    * densification) is what the oracle reproduces with group-by +
    * arg_min-over-cyclic-distance. Two earlier formulations measured
    * SLOWER: grouped aggregations (each side of the band self-join
    * re-executes the multi-stage shuffle subplan) and builtin HOF folds
    * (higher-order-function lambdas run interpreted). */
  def minhashSignaturesPortable(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text", shingleN: Int = 3,
                                numPerms: Int = 32): DataFrame = {
    val tk = docs.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) > 0)
    tk.select(col(idCol), asCol(TextExprs.MinHashSig(
      asExpr(asCol(TextExprs.Md5ShingleHashes(
        asExpr(col("__ts")), shingleN, trailing = true))), numPerms)).as("__sig"))
  }

  /** [[minhashPairsPortable]] with the signature frame supplied by the
    * caller (pinned and shared, as at [[minhashPairsFromSigs]]). The band
    * join is the pipeline's only wide operation, as at the flagship. */
  def minhashPairsPortableFromSigs(docs: DataFrame, sigRow: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "text", shingleN: Int = 3,
                                   numPerms: Int = 32, bands: Int = 16,
                                   threshold: Double = 0.4): DataFrame = {
    val rowsPerBand = numPerms / bands
    // band key = the band's slot values in slot order as a string (used
    // only for bucket equality, and what the oracle reproduces verbatim)
    val bandStructs = (0 until bands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("__sig"), bIdx * rowsPerBand + r + 1).cast("string")): _*).as("bkey"))
    }
    val bandKeys = sigRow.select(col(idCol), explode(array(bandStructs: _*)).as("__bk"))
      .select(col(idCol), col("__bk.band").as("__band"), col("__bk.bkey").as("__bkey"))
    val cands = bucketPairs(bandKeys, idCol, Seq("__band", "__bkey")).distinct()
    // exact verify on word-shingle STRING sets (complete shingles, short
    // docs fall back to the whole token string) — mirrors [[minhashPairs]]
    verifyJaccard(docs, cands, idCol, threshold)(
      _.select(col(idCol), tokens(col(textCol)).as("__ts"))
        .select(col(idCol), wordShinglesOfTokens(col("__ts"), shingleN).as("__set")))
  }

  /** SimHash near-dup pairs over the portable hash — bigram features,
    * 60 sign bits (the portable hash's width), 4 bands of 15 bits,
    * exact Hamming verify: the aggregation-based mirror of
    * [[simhashPairs]] that a SQL oracle can reproduce. Pigeonhole recall
    * guarantee holds as for the flagship (maxHamming < bands). */
  /** 60 portable SimHash sign bits per doc — the signature half of
    * [[simhashPairsPortable]], public so recall specs can brute-force
    * against it. */
  def simhashSignaturesPortable(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame = {
    val bits = 60
    // one codegen'd per-row projection, like the flagship: the compiled
    // md5 shingle-hash kernel feeding the SAME codegen'd
    // [[TextExprs.SimHashBits]] bit-vote reducer (60 bits = the portable
    // hash's width; votes over bits 0..59 match the oracle's
    // `(h >> b) & 1` arithmetic). Earlier grouped-agg / interpreted-HOF
    // formulations both measured slower — see [[minhashPairsPortable]].
    val tk = docs.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .filter(size(col("__ts")) > 0)
    tk.select(col(idCol), asCol(TextExprs.SimHashBits(
      asExpr(asCol(TextExprs.Md5ShingleHashes(
        asExpr(col("__ts")), 2, trailing = true))), bits)).as("sig"))
  }

  def simhashPairsPortable(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text", maxHamming: Int = 3,
                           bands: Int = 4): DataFrame = {
    val bits = 60
    val rowsPerBand = bits / bands
    val sig = simhashSignaturesPortable(docs, idCol, textCol)
    // band key = the band's bits as a string; signature rides along so
    // Hamming verification happens inside the bucket join (same shape
    // as [[simhashPairs]])
    val banded = sig.select(col(idCol), col("sig").as("__h"),
      posexplode(array((0 until bands).map(bIdx =>
        concat_ws("", transform(slice(col("sig"), bIdx * rowsPerBand + 1, rowsPerBand),
          x => x.cast("string")))): _*)).as(Seq("__band", "__bkey")))
    hammingVerify(bucketPairs(banded, idCol, Seq("__band", "__bkey"), Seq("__h")), maxHamming)
  }

  /** Embedding near-dup pairs within blocks (exact cosine, rounded before
    * thresholding so an oracle ranks identically). blockExprs must be
    * stable under duplication (e.g. label + id mod k).
    * `maxBlockMembers`/`overflowLink` bound a hot block the same way the
    * band joins bound a hot bucket: the blocked self-join is quadratic
    * in the largest block (a boilerplate-embedding cluster at web scale),
    * the cap keeps the lowest-id members, and the link policy pairs each
    * overflow member against the block representative — every member
    * still cosine-verified, components whole on the all-identical
    * pathology, C(cap,2) + (n−cap) work per block. */
  def cosinePairsBlocked(emb: DataFrame, blockExprs: Seq[Column],
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         threshold: Double = 0.99, decimals: Int = 4,
                         maxBlockMembers: Int = Int.MaxValue,
                         overflowLink: Boolean = false): DataFrame =
    cosineVerify(bucketPairs(
      emb.select(col(idCol), col(vecCol).as("__v"), struct(blockExprs: _*).as("__blk")),
      idCol, Seq("__blk"), Seq("__v"), maxBlockMembers, overflowLink), threshold, decimals)

  /** The embedding verify over pairs carrying vectors `__va` / `__vb`:
    * (id_a, id_b, cosine) at the cosine rounded to `decimals` >= threshold. */
  private def cosineVerify(pairs: DataFrame, threshold: Double, decimals: Int): DataFrame =
    pairs
      .withColumn("cosine", round(VectorOps.cosineSimilarity(col("__va"), col("__vb")), decimals))
      // NaN cosine (a zero-norm side) must not pass the threshold: Spark's
      // comparison ranks NaN LARGEST, so `NaN >= t` is true — a pair of
      // zero vectors would otherwise emit as a "duplicate". Sign-LSH
      // buckets DO reach it: zero vectors share the all-zero signature.
      .filter(!isnan(col("cosine")) && col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")

  /** Sign-random-projection LSH near-dup pairs over embeddings: signature
    * bit p = sign(<v, h_p>) for `planes` fixed pseudo-random hyperplanes
    * (seeded, deterministic), banded like MinHash, exact-cosine verified.
    * The scale path: no blocked self-join, candidates only from bucket
    * collisions. */
  def cosinePairsLsh(emb: DataFrame, dim: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     planes: Int = 32, bands: Int = 4,
                     threshold: Double = 0.99, seed: Long = 42L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val hyper: Array[Array[Double]] =
      Array.fill(planes)(Array.fill(dim)(rnd.nextGaussian()))
    // ONE codegen'd expression for all plane signs: the composed
    // one-column-per-plane form carried `planes` literal arrays through
    // analysis + Janino and was plan-bound, not data-bound (~4s at 64
    // planes; see VectorExprs.SignProjection). Bit values are identical.
    val sigs = emb.select(col(idCol), col(vecCol),
      VectorOps.signProjection(col(vecCol), hyper).as("sig"))
    val cands = bandCandidates(sigs.select(col(idCol), col("sig")), idCol, bands, planes / bands)
    val vecs = emb.select(col(idCol), col(vecCol))
    cosineVerify(cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__vb")), "id_b"), threshold, 4)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dedup
    * scoped to k-means clusters. Embeddings are L2-NORMALIZED for
    * clustering (the paper's setup — and what makes a scaled copy land
    * in its original's cell deterministically: x and 1.5x normalize to
    * the same point); candidate pairs form ONLY within a cluster and
    * are exact-cosine verified, rounded before thresholding.
    * Cross-cluster near-dups are deliberately out of scope — the
    * paper's quality/cost trade: the blocked self-join is per-cluster
    * (~N/k rows per block) instead of N², which is what makes embedding
    * dedup tractable at web scale. Returns (id_a, id_b, cosine). */
  def semdedupPairs(emb: DataFrame, numClusters: Int, threshold: Double = 0.99,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    seed: Long = 42L, fitFraction: Double = 0.25,
                    maxBlockMembers: Int = Int.MaxValue,
                    overflowLink: Boolean = false): DataFrame = {
    val normed = emb.withColumn("__nvec", VectorOps.l2Normalize(col(vecCol)))
    // centroids from a deterministic sample (the at-scale fit shape);
    // recall is centroid-INDEPENDENT for the planted-copy argument —
    // normalized copies share a cell under ANY centroid set
    val withCell = KnnIvf.build(normed, numClusters, idCol, "__nvec", seed,
      fitFraction).corpusWithCell
    cosinePairsBlocked(withCell, Seq(col("cell")), idCol, vecCol, threshold,
      maxBlockMembers = maxBlockMembers, overflowLink = overflowLink)
  }

  /** SemDeDup keep rule (paper §3.1: within each duplicate group keep
    * the example with LOW similarity to its cluster centroid — keep the
    * outlier, drop the prototypes). One row per member of a duplicate
    * group: (idCol, component, cell, centroid_sim, keep); everything
    * not listed is implicitly kept. Composes [[semdedupPairs]] with
    * [[duplicateComponents]]; cosine-to-centroid is scale-invariant, so
    * a scaled copy ties its original and the id breaks the tie. */
  def semdedupSelect(emb: DataFrame, numClusters: Int, threshold: Double = 0.99,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     seed: Long = 42L, fitFraction: Double = 0.25,
                     maxBlockMembers: Int = Int.MaxValue,
                     overflowLink: Boolean = false): DataFrame =
    semdedupSelectWith(
      semdedupFit(emb, numClusters, idCol, vecCol, seed, fitFraction),
      threshold, idCol, vecCol, maxBlockMembers, overflowLink)

  /** The fit half of [[semdedupSelect]]: normalize + cluster-assign,
    * exposed so a serving caller can fit ONCE and keep-select many times
    * (the KMeans fit dominates the pipeline; the reference index family's
    * build-once/serve-many split applies here identically). */
  def semdedupFit(emb: DataFrame, numClusters: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  seed: Long = 42L, fitFraction: Double = 0.25): KnnIvf.IvfIndex = {
    val normed = emb.withColumn("__nvec", VectorOps.l2Normalize(col(vecCol)))
    KnnIvf.build(normed, numClusters, idCol, "__nvec", seed, fitFraction)
  }

  /** The serve half of [[semdedupSelect]] over a pre-fit cluster
    * assignment (pair generation, component closure, keep-the-outlier
    * rule). `idx.corpusWithCell` must carry `idCol`, `vecCol`, `cell`. */
  def semdedupSelectWith(idx: KnnIvf.IvfIndex, threshold: Double = 0.99,
                         idCol: String = "vec_id", vecCol: String = "embedding",
                         maxBlockMembers: Int = Int.MaxValue,
                         overflowLink: Boolean = false): DataFrame = {
    val withCell = idx.corpusWithCell
    // the pair frame (tiny: verified duplicates only) fans out into
    // members, the component closure, and the final join — without
    // pinning it, each reference re-executes the KMeans-transform +
    // blocked-self-join subplan (the self-join-recompute cost, measured
    // ~4x the pair stage). Hot-cluster bounds ride through to the keep
    // rule: with overflowLink the capped pair set still covers every
    // member (star links to the cell representative), so the
    // keep-the-outlier selection sees whole components.
    val pairs = cosinePairsBlocked(withCell, Seq(col("cell")), idCol, vecCol, threshold,
        maxBlockMembers = maxBlockMembers, overflowLink = overflowLink)
      .localCheckpoint(true)
    val members = pairs.select(col("id_a").as(idCol))
      .union(pairs.select(col("id_b").as(idCol))).distinct()
    val comps = duplicateComponents(members, pairs, idCol)
    val cents = withCell.sparkSession
      .createDataFrame(KnnIvf.centroidSeq(idx.model)).toDF("cell", "__cvec")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("centroid_sim").asc, col(idCol).asc)
    withCell.join(comps, Seq(idCol))
      .join(broadcast(cents), Seq("cell"))
      .withColumn("centroid_sim",
        round(VectorOps.cosineSimilarity(col(vecCol), col("__cvec")), 4))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("component"), col("cell"), col("centroid_sim"), col("keep"))
  }

  /** Maximal duplicated word-span detection (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1): report every maximal run of >= n consecutive
    * words that appears verbatim in more than one document. The published
    * system uses a suffix array; the distributed rendition is fixed-length
    * gram matching — any cross-doc duplicate substring of >= n words is a
    * run of >= 1 overlapping duplicated n-grams, so merging adjacent
    * duplicated gram starts per doc recovers exactly the maximal spans.
    *
    * Plan: one narrow projection builds (pos, md5(gram)) per doc (no
    * self-join, no windows over tokens); one shuffle on the gram hash
    * finds grams spanning >= minDocs distinct docs; the position join is
    * keyed on the same hash (co-partitioned after the agg); the island
    * merge (pos - row_number) is a per-doc window. At 100 TB the gram-hash
    * shuffle is the irreducible cost and everything downstream touches
    * only duplicated grams — a vanishing fraction of a real corpus.
    *
    * Output: (doc_id, span_start, span_end, n_grams) with 1-based word
    * indices, span_end inclusive.
    */
  def duplicateSpans(docs: DataFrame, n: Int = 10, minDocs: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    duplicateSpansFromGrams(positionalGramHashes(docs, n, idCol, textCol),
      n, minDocs, idCol)

  /** Positional gram-hash frame (idCol, pos, __gh) — the tokenize +
    * gram-hash + posexplode prefix of the spans family, exposed so one
    * computation can feed both [[duplicateSpansFromGrams]] and an
    * equivalent SQL pipeline over the same rows. Positions are 1-based
    * word indices; hashes are the 60-bit longs of the compiled md5
    * kernel (one static call per row, inside whole-stage codegen;
    * trailing=false emits exactly the t-n+1 complete grams — empty for
    * short docs). A builtin transform() lambda here ran interpreted AND
    * re-split the text per element: 8.0 s -> 1.3 s at sf0.1 for the
    * whole query. Hash keys are longs, not 32-char hex — cheaper to
    * shuffle too. */
  def positionalGramHashes(docs: DataFrame, n: Int, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__ws"))
      .select(col(idCol), posexplode(asCol(TextExprs.Md5ShingleHashes(
        asExpr(col("__ws")), n, trailing = false))).as(Seq("__i", "__gh")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("pos"), col("__gh"))
  }

  /** The spans computation downstream of [[positionalGramHashes]]: the
    * dup-gram shuffle, the co-partitioned position join, and the island
    * merge — the parts that ARE the operator. */
  def duplicateSpansFromGrams(grams: DataFrame, n: Int, minDocs: Int = 2,
                              idCol: String = "doc_id"): DataFrame = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    // minDocs == 2 ("any other doc has it") avoids count_distinct's
    // two-shuffle Expand: a gram spans >= 2 docs iff min(id) != max(id)
    val dupGrams = (if (minDocs == 2)
      grams.groupBy(col("__gh"))
        .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
        .filter(col("__lo") =!= col("__hi"))
    else
      grams.groupBy(col("__gh"))
        .agg(count_distinct(col(idCol)).as("__nd"))
        .filter(col("__nd") >= minDocs))
      .select("__gh")
    val hits = grams.join(dupGrams, "__gh").select(col(idCol), col("pos"))
    // island merge: consecutive duplicated gram starts share (pos - rn)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n.toLong - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Span-coverage cleaning (the removal step of Lee et al. 2021 §4.1,
    * coarsened to the document: they cut the duplicated characters out;
    * a batch pipeline more often drops the documents that are mostly
    * duplicated material). Keeps docs whose fraction of words inside
    * duplicated spans is below maxCoverage, with the coverage stats.
    *
    * Maximal spans are disjoint in GRAM-START space but their word
    * ranges can overlap: gram starts 1 and 3 at n=3 (start 2 not
    * duplicated — two distinct duplicated substrings sharing a word)
    * yield spans [1,3] and [3,5], and a plain sum double-counts word 3
    * (dup_words 6 of n_words 5, coverage 1.2). So coverage is the size
    * of the interval UNION: spans are interval-merged per doc (classic
    * running-max sweep — a new cluster starts where span_start exceeds
    * every preceding span_end) before summing. Coverage is rounded
    * half-up in integer arithmetic — word-count denominators like 32
    * put the quotient exactly on the 4dp half-boundary where double
    * rounding is engine-divergent.
    */
  /** The cut form of Lee et al. 2021 §4.1: remove duplicated spans from
    * the TEXT, keeping one canonical occurrence — for each duplicated
    * gram, the lowest-id doc containing it keeps its copy and every
    * other doc's occurrence is cut ("remove all but one occurrence of
    * each duplicated substring", the published semantics that
    * [[spanCleanReport]] coarsens to whole-doc drops). Cut positions are
    * islanded and interval-merged exactly like the coverage path, then
    * the doc's tokens outside every cut interval are reassembled.
    *
    * Output: (idCol, n_words, cut_words, clean_md5) — the md5 of the
    * space-joined surviving tokens (text compared by hash to keep the
    * oracle diff narrow). A doc without duplicated material passes
    * through with cut_words 0; a fully-cut doc hashes the empty string.
    *
    * Scale shape: identical to [[duplicateSpans]] (one gram-hash
    * shuffle; everything downstream touches duplicated grams only) plus
    * one interval-bounded HOF reassembly per AFFECTED doc — the lambda
    * cost is tokens x cut-intervals, and only docs with cuts take that
    * branch. */
  def spanCutReport(docs: DataFrame, n: Int = 10,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"span gram width must be >= 2, got $n")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__ws"))
    val grams = toks
      .select(col(idCol), posexplode(asCol(TextExprs.Md5ShingleHashes(
        asExpr(col("__ws")), n, trailing = false))).as(Seq("__i", "__gh")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("pos"), col("__gh"))
    // each duplicated gram's lowest-id doc is its canonical keeper
    val dupGrams = grams.groupBy(col("__gh"))
      .agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .filter(col("__lo") =!= col("__hi"))
      .select(col("__gh"), col("__lo"))
    val cutHits = grams.join(dupGrams, "__gh")
      .filter(col(idCol) =!= col("__lo"))
      .select(col(idCol), col("pos"))
    // islands of consecutive cut gram starts, then the same
    // interval-union sweep as the coverage path (word ranges of nearby
    // islands overlap whenever the start gap is < n)
    val wPos = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val spans = cutHits
      .withColumn("__grp", col("pos") - row_number().over(wPos))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n.toLong - 1)).as("e"))
    val wS = Window.partitionBy(col(idCol)).orderBy(col("s"))
    val merged = spans
      .withColumn("__new",
        when(col("s") > lag(col("e"), 1).over(wS), 1L).otherwise(lit(0L)))
      .withColumn("__cl",
        sum(col("__new")).over(wS.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__cl"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__ivs"),
        sum(col("e") - col("s") + lit(1L)).as("cut_words"))
    toks.join(ivs, Seq(idCol), "left")
      .withColumn("__kept",
        when(col("__ivs").isNull, col("__ws"))
          .otherwise(filter(col("__ws"), (_, i) =>
            !exists(col("__ivs"), iv =>
              (i + 1).cast("long") >= iv.getField("s") &&
              (i + 1).cast("long") <= iv.getField("e")))))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_words"),
        coalesce(col("cut_words"), lit(0L)).as("cut_words"),
        md5(concat_ws(" ", col("__kept")).cast("binary")).as("clean_md5"))
  }

  def spanCleanReport(docs: DataFrame, n: Int = 10, maxCoverage: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    spanCleanFromSpans(docs, duplicateSpans(docs, n, minDocs = 2, idCol, textCol),
      maxCoverage, idCol, textCol)

  /** [[spanCleanReport]] over an ALREADY-COMPUTED spans frame (the
    * [[duplicateSpans]] output) — lets a composition reuse a pinned
    * spans frame instead of re-running the gram shuffle. */
  def spanCleanFromSpans(docs: DataFrame, spans: DataFrame,
                         maxCoverage: Double = 0.8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val ws = Window.partitionBy(col(idCol)).orderBy(col("span_start"))
    val cov = spans
      // span_end is monotone in span_start here (both derive from gram
      // positions), so the previous row's span_end IS the running max
      .withColumn("__new",
        when(col("span_start") > lag(col("span_end"), 1).over(ws), 1L)
          .otherwise(lit(0L)))
      .withColumn("__cluster",
        sum(col("__new")).over(ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__cluster"))
      .agg(min(col("span_start")).as("__s"), max(col("span_end")).as("__e"))
      .groupBy(col(idCol))
      .agg(sum(col("__e") - col("__s") + lit(1L)).as("dup_words"))
    docs
      .select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_words"))
      .join(cov, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_words"))
      .withColumn("coverage",
        floor((col("dup_words") * lit(20000L) + col("n_words")) /
          (col("n_words") * lit(2L))) / lit(10000.0))
      .filter(col("coverage") < maxCoverage)
      .select(col(idCol), col("n_words"), col("dup_words"), col("coverage"))
  }

  // --------------------------------------------------------------------
  // Edit-distance near-dup (titles / URLs / short fields).
  //
  // The shingle pipelines above need dozens of tokens to discriminate; a
  // 20-char title has three. For SHORT strings the right similarity is
  // Levenshtein, and the sound blocking is the deletion-neighborhood
  // pigeonhole: if lev(u, v) <= d then some common subsequence w is
  // reachable from BOTH by <= d deletions (align u with v: u's unmatched
  // chars number <= substitutions + deletions <= d, v's <= substitutions
  // + insertions <= d). So exploding every <= d-deletion variant and
  // joining on the variant STRING finds every qualifying pair — recall
  // 1.0 by construction, the same guarantee shape as the SimHash
  // bit-slice pigeonhole above. Precision comes from verifying with the
  // codegen'd `levenshtein` inside the join, so accidental bucket
  // collisions never survive to the output.
  // --------------------------------------------------------------------

  /** All <= `maxDist`-deletion variants of `textCol` (the string itself
    * included), built purely from codegen'd array/string expressions —
    * d=1 is length+1 variants per row, d=2 is O(length^2). */
  private[graft] def deletionVariants(docs: DataFrame, idCol: String,
                                      textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (depth-$maxDist neighborhoods explode " +
        "combinatorially beyond that); got " + maxDist)
    val base = docs.select(col(idCol), col(textCol).as("__t"))
      .withColumn("__vars", array(col("__t")))
    (1 to maxDist).foldLeft(base) { (df, _) =>
      // one deletion round: every variant contributes itself (i = length)
      // plus each single-character deletion — iterating d times yields
      // exactly the <= d-deletion neighborhood
      df.withColumn("__vars", expr(
        """array_distinct(flatten(transform(__vars,
             v -> transform(sequence(0, length(v)),
                    i -> concat(substring(v, 1, i), substring(v, i + 2))))))"""))
    }
  }

  /** Near-duplicate pairs of short strings within Levenshtein distance
    * `maxDist`: deletion-neighborhood blocking (sound — see section
    * comment) + in-join exact verify.
    *
    * Scale shape: narrow per-row variant explode, ONE shuffle on the
    * variant string, within-bucket pair join, distinct, codegen'd
    * `levenshtein` verify. Verbatim-duplicated titles make hot buckets
    * exactly like verbatim bodies do in the band joins, so the same
    * lowest-id rank cap applies (`maxBucketMembers`), with evictions
    * observable via [[editBucketDrops]].
    * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist */
  def editDistancePairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "title", maxDist: Int = 1,
                        maxBucketMembers: Int = Int.MaxValue): DataFrame =
    editPairs(variantRows(docs, idCol, textCol, maxDist), idCol, "__t", "__v", maxDist,
      maxBucketMembers)

  /** The bucket-join + verify half of [[editDistancePairs]] over an
    * ALREADY-EXPLODED variants frame (`idCol`, `textCol`, `varCol` —
    * one row per deletion variant): callers that run several pipelines
    * over the same corpus (the DataFrame and SQL surfaces, an
    * incremental ingest's standing side) can pin the variant explode
    * once and pay only the join per consumer. Semantics are exactly
    * [[editDistancePairs]]' — the variants frame is the pipeline's only
    * state. */
  def editDistancePairsFromVariants(vars: DataFrame, idCol: String,
                                    textCol: String, varCol: String,
                                    maxDist: Int): DataFrame =
    editPairs(vars, idCol, textCol, varCol, maxDist, Int.MaxValue)

  private def editPairs(vars: DataFrame, idCol: String, textCol: String, varCol: String,
                        maxDist: Int, cap: Int): DataFrame =
    levenshteinVerify(bucketPairs(
      vars.select(col(idCol), col(textCol).as("__t"), col(varCol).as("__jv")),
      idCol, Seq("__jv"), Seq("__t"), cap), maxDist)

  /** (idCol, __t, __v): one row per <= `maxDist`-deletion variant. */
  private def variantRows(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int): DataFrame =
    deletionVariants(docs, idCol, textCol, maxDist)
      .select(col(idCol), col("__t"), explode(col("__vars")).as("__v"))

  /** The edit-distance verify over pairs carrying strings `__ta` /
    * `__tb`: distinct pairs first (a pair shares many variants), then
    * (id_a, id_b, dist) at dist <= maxDist. */
  private def levenshteinVerify(pairs: DataFrame, maxDist: Int): DataFrame =
    pairs.distinct()
      .withColumn("dist", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")

  /** Incremental-ingest form of [[editDistancePairs]] — the recurring-
    * crawl contract the MinHash/SimHash families already carry
    * ([[minhashCandidatesIncremental]]): dedup a NEW batch against an
    * EXISTING corpus emitting exactly the pairs that TOUCH the batch
    * (new×old and new×new, never an old×old re-pairing), so each ingest
    * pays work proportional to the delta's variant explode plus its
    * bucket probes, not a full-corpus re-pair.
    * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist,
    *         at least one side from `newDocs` */
  def editDistancePairsIncremental(oldDocs: DataFrame, newDocs: DataFrame,
                                   idCol: String = "doc_id",
                                   textCol: String = "title",
                                   maxDist: Int = 1): DataFrame =
    levenshteinVerify(incrementalBucketPairs(variantRows(newDocs, idCol, textCol, maxDist),
      variantRows(oldDocs, idCol, textCol, maxDist), idCol, Seq("__v"), Seq("__t")), maxDist)

  /** Observable eviction count for a capped [[editDistancePairs]] join:
    * members beyond `maxBucketMembers` across all variant buckets (the
    * [[bandBucketDrops]] contract for the deletion-variant bucket key). */
  def editBucketDrops(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "title", maxDist: Int = 1,
                      maxBucketMembers: Int = Int.MaxValue): DataFrame =
    bucketOverflow(variantRows(docs, idCol, textCol, maxDist), Seq("__v"), maxBucketMembers)
      .toDF("n_dropped")
}
