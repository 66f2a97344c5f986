package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora (north-star extension):
  * exact (hash), MinHash+LSH, SimHash-banded, and n-gram Jaccard.
  *
  * Scale design — the whole point of these algorithms is avoiding the O(n²)
  * all-pairs comparison:
  *
  *   - exact:    one hash-agg on md5(text) — never groups on the body.
  *   - MinHash:  explode shingles (map-side), ONE hash-agg to k-min
  *     signatures (8 numbers per doc regardless of doc size), band the
  *     signature, and self-join on (band_idx, band_hash) — candidate pairs
  *     only materialize for docs that actually collide. Shuffle volume is
  *     O(docs × bands), not O(docs²).
  *   - SimHash:  one explode + hash-agg per doc → 64-bit signature; banded
  *     equi-join on 16-bit blocks (~2^16 buckets per band), XOR+bit_count
  *     Hamming filter on the survivors BEFORE the pair dedup shuffle.
  *   - Jaccard:  equi-join on shared shingles (inverted-index join) — pairs
  *     with zero overlap never meet. Hot shingles would skew the join at
  *     scale; the MinHash path is the production default, this is the
  *     exact-verification pass run on LSH candidates.
  */
object Dedup {

  /** n-token shingles of a text column (empty-safe: short docs collapse to
    * one whole-text shingle). Built as a fold of n-1 zip_with joins over n
    * shifted O(1) slices — same values as the per-position
    * transform+slice+join chain it replaces, with far less per-row
    * allocation (each step is one linear array op instead of a slice per
    * position).
    */
  def shingles(textCol: Column, n: Int = 5): Column = {
    val toks = split(textCol, " ")
    val m = size(toks) - (n - 1) // number of full n-grams
    val grams = (2 to n).foldLeft(slice(toks, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), m), (a, b) => concat_ws(" ", a, b))
    }
    when(size(toks) >= n, grams)
      .otherwise(array(concat_ws(" ", toks)))
  }

  /** Widen a narrow scan feeding a per-row-HEAVY stage (the langid
    * `widened` rationale, r19 applied family-wide): the fixture doc
    * table arrives as ONE parquet split, so a shingle explode + md5 per
    * gram would run single-core regardless of session width. Round-robin
    * repartition ONLY when the source has fewer splits than the
    * session's parallelism — at production scale the scan has more
    * splits than cores and this is a no-op, never a gratuitous
    * full-corpus shuffle.
    */
  private def widened(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  /** Exploded (doc_id, shingle) view, widened (see [[widened]]). */
  def docShingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame =
    widened(docs)
      .select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))

  /** Winnowed fingerprint frame (id, fp, n_grams), one row per selected
    * fingerprint occurrence — THE definition of the winnowing pipeline
    * (k-token gram md5s → min per sliding window of w → full-window
    * positions only). Formulated as explode → ordered window frame →
    * filter, NOT array HOFs: interpreted HOFs re-evaluate the whole
    * md5-per-gram chain once per column reference (measured 89 s vs ~2 s at
    * sf0.1). Frame truncation at partition end gives docs with < w grams
    * their whole-doc minimum via the pos==0 row. Consumers aggregate
    * (fingerprint summaries) or distinct+self-join (containment) on top;
    * the one shuffle here (by id) is reused by same-key aggregation.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = widened(docs).select(col(idCol),
      posexplode(shingles(col(textCol), k)).as(Seq("pos", "gram")))
    val hashed = grams.select(col(idCol), col("pos"),
      md5(col("gram").cast("binary")).as("h"))
    val slide = Window.partitionBy(idCol).orderBy("pos").rowsBetween(0, w - 1)
    hashed
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(idCol)))
      .withColumn("fp", min(col("h")).over(slide))
      .filter(col("pos") <= greatest(col("n_grams") - w, lit(0L)))
      .select(col(idCol), col("fp"), col("n_grams"))
  }

  /** MinHash signatures from an exploded (id, shingle) view: k independent
    * hash functions via Kirsch-Mitzenmacher double hashing — ONE md5 per
    * shingle, split into two integers s1 (60 bits) and s2 (56 bits), with
    * h_j = s1 + j·s2 (j·s2 < 2⁶⁰ so the sum never overflows a signed long
    * in either engine). The r12 shape salted k separate md5 calls per raw
    * shingle occurrence; at the bench fixture that was the dedup family's
    * dominant CPU (the raw stream is every token, ×k crypto hashes) —
    * double hashing is the published k-hash simulation (Kirsch &
    * Mitzenmacher 2006, proven for minwise estimates) at 1/k the hashing
    * cost, and integer mins beat 32-char string mins in the agg buffer.
    * Min is duplicate-insensitive, so the RAW (non-distinct) exploded
    * stream is the preferred input: the aggregation's map-side combine
    * collapses duplicates locally and the shuffle ships only per-doc
    * partial mins — a distinct() first would shuffle the full shingle
    * text stream for nothing.
    */
  def minhashFromShingles(shingled: DataFrame, idCol: String, k: Int = 8,
      extraAggs: Seq[Column] = Nil): DataFrame = {
    // THE one definition of the signature formula — the DuckDB twin
    // (queries/package.scala minhashCandCte) must stay bit-identical, so
    // no caller re-implements it. extraAggs lets a caller fuse more
    // aggregates (e.g. the shingle-set size) into the same pass.
    val hex = md5(col("shingle").cast("binary"))
    val s1 = conv(substring(hex, 1, 15), 16, 10).cast("long")
    val s2 = conv(substring(hex, 17, 14), 16, 10).cast("long")
    val mins = (0 until k).map(j =>
      min(s1 + lit(j.toLong) * s2).as(s"h$j"))
    val aggs = mins ++ extraAggs
    shingled.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signatures per doc (one row, columns h0..h{k-1}). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, shingleN: Int = 5): DataFrame =
    minhashFromShingles(docShingles(docs, idCol, textCol, shingleN), idCol, k)

  /** LSH banding: hash `rowsPerBand` adjacent signature values into each of
    * `k/rowsPerBand` bands and emit (doc, band_idx, band_hash). Docs
    * sharing ANY band are candidates.
    *
    * The band key is an 8-BYTE xxhash64 long, not an md5 hex string: the
    * band table is the dedup family's dominant shuffle (every doc ships
    * k/rowsPerBand keyed rows into the candidate self-join), and a 32-char
    * hex key quadruples that exchange for no semantic gain. Band
    * membership means "same signature slice", and ANY injective-in-
    * practice hash of the slice preserves it — a 2⁻⁶⁴-rate xxhash64
    * collision can only ADD a candidate pair, which the downstream exact
    * verify discards, so verified pairs/clusters/kept are collision-robust
    * by construction. The DuckDB twin keeps md5 band keys (no xxhash64
    * there); the two engines' PAIR sets agree because both hashes are
    * injective on the observed slices.
    */
  def lshBands(signatures: DataFrame, idCol: String, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0,
      s"k ($k) must be divisible by rowsPerBand ($rowsPerBand)")
    val bandCols = (0 until k by rowsPerBand).map { j =>
      xxhash64((j until j + rowsPerBand).map(i => col(s"h$i")): _*)
    }
    signatures.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
  }

  /** Distinct candidate pairs (doc_a < doc_b) from a banded view — the one
    * pairing predicate both minhash paths share.
    */
  private[graft] def bandsToCandidatePairs(bands: DataFrame,
      idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("doc_a"), col("band_idx"),
      col("band_hash"))
    val b = bands.select(col(idCol).as("doc_b"), col("band_idx").as("bi"),
      col("band_hash").as("bh"))
    a.join(b, a("band_idx") === b("bi") && a("band_hash") === b("bh") &&
        a("doc_a") < b("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates()
  }

  /** Candidate near-duplicate pairs (a < b) from MinHash + LSH.
    *
    * The signature table is materialized (localCheckpoint) before the band
    * self-join: physical-plan exchange reuse is NOT guaranteed to fire
    * across self-join re-aliasing (measured: the corpus explode ran once
    * per join side without it), and the signature table is tiny — k hashes
    * per doc — so materializing it is far cheaper than one extra corpus
    * pass. On a cluster this would be `persist(MEMORY_AND_DISK)` or an
    * intermediate parquet write; localCheckpoint is the single-JVM
    * equivalent with the same lineage-truncation effect.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rowsPerBand: Int = 2, shingleN: Int = 5): DataFrame = {
    val sig = minhashSignatures(docs, idCol, textCol, k, shingleN)
      .localCheckpoint()
    bandsToCandidatePairs(lshBands(sig, idCol, k, rowsPerBand), idCol)
  }

  /** Incremental candidate maintenance — the shape a production dedup runs
    * at 100 TB, where recomputing the full band self-join per arriving
    * batch would be O(corpus) daily. State is the journaled band table of
    * every previously-seen doc (appended batch-by-batch, O(k/rowsPerBand)
    * rows per doc); when a new batch arrives, only pairs INVOLVING a new
    * doc can appear, so the work is one band join of the new batch against
    * journal ∪ new — O(new × bands), independent of corpus history size.
    * A doc's signature depends only on its own shingles, so
    * journaled-pairs ∪ incremental-pairs is EXACTLY the full-corpus
    * candidate set (the oracle for q_dedup_incremental pins this).
    *
    * `oldBands` and `newBands` must be disjoint in `idCol` (old docs were
    * journaled in earlier batches); new-old pairs are normalized with
    * least/greatest since arrival order says nothing about id order.
    */
  def incrementalCandidatePairs(oldBands: DataFrame, newBands: DataFrame,
      idCol: String): DataFrame = {
    val n = newBands.select(col(idCol).as("doc_n"), col("band_idx"),
      col("band_hash"))
    val o = oldBands.select(col(idCol).as("doc_o"),
      col("band_idx").as("bi"), col("band_hash").as("bh"))
    val newOld = n.join(o, n("band_idx") === o("bi") &&
        n("band_hash") === o("bh"))
      .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
        greatest(col("doc_n"), col("doc_o")).as("doc_b"))
    val newNew = bandsToCandidatePairs(newBands, idCol)
    newOld.unionAll(newNew).dropDuplicates()
  }

  /** Production near-dup composition: MinHash+LSH candidate generation,
    * then exact Jaccard computed ON CANDIDATES ONLY. This is the shape that
    * scales: the expensive exact measure touches O(candidates), not
    * O(shared-shingle pairs) — at 100 TB the candidate set is proportional
    * to true near-dups (plus LSH false positives), while the full
    * inverted-index join of [[jaccardPairs]] grows with every hot shingle.
    *
    * Shuffle discipline (the family's dominant exchange, measured in the
    * 10× ledger at ~377 MB before this shape): the 5-gram TEXT never
    * shuffles. MinHash's min is duplicate-insensitive, so the signature
    * aggregation runs on the RAW exploded stream (map-side combine ships
    * only per-doc partial mins), and the distinct shingle-SET — which
    * feeds the size aggregation and both verify-join sides — is keyed by
    * xxhash64(shingle) 8-byte longs. Set size and intersection only need
    * equality, and a 2⁻⁶⁴-rate collision perturbs one pair's jaccard
    * (the DuckDB twin uses raw text; results agree because the hash is
    * injective on the observed shingles). The corpus explode runs twice
    * (once per aggregation) — a re-scan is map-side and cheap, where
    * materializing the text stream to share it is exactly the exchange
    * this shape deletes.
    */
  def minhashVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 8, rowsPerBand: Int = 2,
      shingleN: Int = 5): DataFrame = {
    val raw = docShingles(docs, idCol, textCol, shingleN)
    val prof = minhashFromShingles(raw, idCol, k).localCheckpoint()
    // id-keyed layout into the checkpoint (r19, measured): the dedup
    // itself adds no exchange over the id layout, and the verify joins
    // read session-width blocks instead of an AQE-coalesced handful.
    val shh = raw.select(col(idCol), xxhash64(col("shingle")).as("shash"))
      .repartition(col(idCol))
      .dropDuplicates(Seq(idCol, "shash")).localCheckpoint()
    minhashVerifiedPairsFrom(shh, prof, idCol, threshold, k, rowsPerBand)
  }

  /** EXACT near-dup pairs by prefix filtering (SSJoin/PPJoin lineage —
    * Chaudhuri, Ganti & Kaushik 2006; Xiao et al. 2008): with shingles
    * in a fixed global order, two sets with Jaccard >= t MUST share a
    * token inside each side's first |x| − ceil(t·|x|) + 1 entries, so
    * the inverted-index join runs over PREFIX tokens only and exact
    * verification is confined to those candidates — the LOSSLESS
    * counterpart to MinHash-LSH (zero false negatives, no probability
    * dial), at the price of candidate volume driven by prefix-token
    * frequency instead of band collisions.
    *
    * The global order is ascending (document frequency, hash) — rarest
    * first, the published heuristic that keeps prefix postings short.
    * All keys are the family's 8-byte xxhash64 longs; the per-doc
    * position window partitions by doc (data-scaled, never global);
    * verification reuses [[verifyCandidates]], so the jaccard arithmetic
    * is IDENTICAL to every other verify path and the blocking-free
    * oracle proves the filter lossless.
    */
  def jaccardPrefixPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // id-keyed checkpoint layout — the minhashVerifiedPairs rationale.
    val shh = docShingles(docs, idCol, textCol, shingleN)
      .select(col(idCol), xxhash64(col("shingle")).as("shash"))
      .repartition(col(idCol))
      .dropDuplicates(Seq(idCol, "shash")).localCheckpoint()
    val dfreq = shh.groupBy(col("shash")).agg(count(lit(1)).as("dfreq"))
    val sizes = shh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("dfreq"), col("shash"))
    val prefix = shh.join(dfreq, "shash").join(sizes, idCol)
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <=
        col("sz") - ceil(lit(threshold) * col("sz")).cast("long") + 1)
      .select(col(idCol), col("shash"))
    val cand = prefix.select(col(idCol).as("doc_a"), col("shash"))
      .join(prefix.select(col(idCol).as("doc_b"),
        col("shash").as("sh_b")),
        col("shash") === col("sh_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyCandidates(cand, shh, idCol, threshold)
  }

  /** [[minhashVerifiedPairs]] over ALREADY-materialized intermediates:
    * `shh` the distinct (id, shash) hashed-shingle view and `prof` the
    * signature profile — so a caller materializing the full dedup state
    * ([[graft.engine.Pipeline.writeDedupState]]) shares the aggregations
    * between the band table and the verify join instead of paying them
    * per artifact.
    */
  def minhashVerifiedPairsFrom(shh: DataFrame, prof: DataFrame,
      idCol: String, threshold: Double, k: Int = 8,
      rowsPerBand: Int = 2): DataFrame =
    verifyCandidates(
      bandsToCandidatePairs(lshBands(prof, idCol, k, rowsPerBand), idCol),
      shh, idCol, threshold)

  /** The exact-Jaccard verify stage alone: score an ARBITRARY candidate
    * pair set (doc_a, doc_b) against the distinct hashed-shingle view and
    * keep pairs at/above the threshold. Factored from
    * [[minhashVerifiedPairsFrom]] so the incremental state update
    * ([[graft.engine.Pipeline.updateDedupState]]) verifies its
    * batch-involving candidates with the IDENTICAL arithmetic the full
    * chain uses — a jaccard that rounds differently between the two paths
    * would silently diverge state from recompute.
    */
  def verifyCandidates(cand: DataFrame, shh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val sizes = shh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = shh.select(col(idCol).as("doc_a"), col("shash"))
    val b = shh.select(col(idCol).as("doc_b"), col("shash"))
    val common = cand.join(a, Seq("doc_a")).join(b, Seq("doc_b", "shash"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")),
        "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")),
        "doc_b")
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard from a DISTINCT (id, shingle) view: inverted-index
    * join (pairs sharing ≥1 shingle), thresholded on the rounded score.
    * Factored from [[jaccardPairs]] so callers that already materialized the
    * shingle set (e.g. the recall audit, which feeds the same set to the LSH
    * path) don't pay a second corpus explode.
    */
  def jaccardFromShingles(sh: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    jaccardFromHashed(
      sh.select(col(idCol), xxhash64(col("shingle")).as("shash")),
      idCol, threshold)

  /** [[jaccardFromShingles]] over the ALREADY-HASHED distinct shingle
    * view (id, shash) — the r19 entry point that lets callers dedup and
    * shuffle the 8-byte keys instead of the gram TEXT (the family's
    * shuffle-payload discipline): the old shape distinct'd the raw
    * (id, shingle-string) stream, carrying ~n·5-token grams through the
    * dedup exchange only to hash them immediately after.
    */
  def jaccardFromHashed(shh: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val sizes = shh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val a = shh.select(col(idCol).as("doc_a"), col("shash"))
    val b = shh.select(col(idCol).as("doc_b"), col("shash").as("sh_b"))
    val common = a.join(b,
        a("shash") === b("sh_b") && a("doc_a") < b("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.select(col(idCol).as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", round(
        col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle
    * (inverted-index join), thresholded. r19: the distinct runs over
    * (id, xxhash64) — 8-byte keys instead of the gram text — and is
    * checkpointed because three subtrees consume it.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 5): DataFrame =
    jaccardFromHashed(
      docShingles(docs, idCol, textCol, shingleN)
        .select(col(idCol), xxhash64(col("shingle")).as("shash"))
        .repartition(col(idCol))
        .dropDuplicates(Seq(idCol, "shash")).localCheckpoint(),
      idCol, threshold)

  /** SimHash signatures per doc: explode tokens, project the two per-token
    * md5s once, then their 8 long quarters once, one hash-agg of 64
    * shift-and-mask majority-vote sums.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      positions: Int = 64): DataFrame = {
    val (ha, hb) = Text.simhashHashes(col("tok"))
    val aggs = Text.simhashAggs(positions)
    widened(docs)
      .select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol) +: Text.simhashQuarters(ha, hb): _*)
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), Text.simhashSignature(positions).as("simhash"))
  }

  /** SimHash near-dup pairs: band the signature into 4 blocks of
    * `positions/4` bits, join on any exact block (LSH), then filter by
    * Hamming distance ≤ maxHamming. With the default 64-bit signature each
    * band key carries 16 bits (~2^16 buckets), so docs only meet when a
    * quarter of their signature matches exactly — candidate volume stays
    * proportional to true near-dups, not to n².
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, positions: Int = 64): DataFrame = {
    require(positions % 4 == 0 && positions <= 64,
      s"positions must be a multiple of 4 and <= 64, got $positions")
    val bandWidth = positions / 4
    // Pack the bit-string into two longs once per doc: per-pair Hamming is
    // then two XOR+bit_count ops instead of `positions` substring compares.
    // Token distributions correlate in real corpora, so band buckets can be
    // fat — per-candidate work and the width of what flows through the join
    // both matter.
    val hiWidth = math.min(32, positions)
    // r19: materialized before the banded self-join — physical-plan
    // exchange reuse is not guaranteed across self-join re-aliasing (the
    // minhashPairs lesson), so without this the whole token explode +
    // 64-agg signature pass ran once per join side. Doc-sized table.
    val sig = simhashSignatures(docs, idCol, textCol, positions)
      .withColumn("sig_hi",
        conv(substring(col("simhash"), 1, hiWidth), 2, 10).cast("long"))
      .withColumn("sig_lo",
        if (positions > 32)
          conv(substring(col("simhash"), 33, positions - 32), 2, 10)
            .cast("long")
        else lit(0L))
      .localCheckpoint()
    val blocks = sig.select(col(idCol), col("sig_hi"), col("sig_lo"),
      posexplode(array((0 until 4).map(j =>
        substring(col("simhash"), j * bandWidth + 1, bandWidth)): _*))
        .as(Seq("block_idx", "block")))
    val a = blocks.select(col(idCol).as("doc_a"), col("sig_hi").as("hi_a"),
      col("sig_lo").as("lo_a"), col("block_idx"), col("block"))
    val b = blocks.select(col(idCol).as("doc_b"), col("sig_hi").as("hi_b"),
      col("sig_lo").as("lo_b"), col("block_idx").as("bi"),
      col("block").as("bb"))
    // Filter on Hamming BEFORE deduplicating: only true near-dups (a tiny
    // set) reach the dedup shuffle, not every banded candidate.
    a.join(b, a("block_idx") === b("bi") && a("block") === b("bb") &&
        a("doc_a") < b("doc_b"))
      .withColumn("hamming",
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Connected components over a near-dup pair graph by min-label
    * propagation: each node repeatedly adopts the smallest label among
    * itself and its neighbors until fixpoint — the step that turns
    * verified PAIRS into dedup CLUSTERS (keep min-id per cluster, drop the
    * rest), which is what a production dedup actually emits.
    *
    * Scale shape: O(diameter) rounds of one join + one partial-agg shuffle
    * each; dedup components are near-cliques of duplicates, so diameter is
    * tiny (2-3 rounds) regardless of corpus size. Labels are
    * localCheckpointed per round (persist/write on a cluster) — iterative
    * lineage otherwise grows the plan exponentially. The per-round
    * convergence probe is a 1-row count, not a data collect. When the
    * graph leaves that regime — long templated-document CHAINS make
    * diameter O(n) — use [[connectedComponentsStar]], the published
    * O(log²) alternating algorithm (label-equal by construction, oracle-
    * and spec-pinned).
    *
    * Returns (doc_id, cluster_id): every node that appears in `pairs`,
    * labeled by its component's minimum id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter)._1

  /** [[connectedComponents]] plus the number of propagation rounds it took
    * to converge — the ScaleBench ledger records rounds vs corpus factor,
    * pinning the O(diameter) claim as a measurement.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, maxIter: Int = 20): (DataFrame, Int) = {
    val p = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val edges = p.unionAll(p.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    // A non-numeric id (e.g. "doc-17") casts to NULL silently, which would
    // collapse unrelated nodes into one null-keyed pseudo-cluster — fail
    // loudly instead, matching the convergence posture below. The probe is
    // one bounded isEmpty on the already-checkpointed edges: it plans as a
    // CollectLimit, whose code is reused across calls, where a
    // limit(1).count() generates a fresh limit counter every time.
    if (!edges.filter(col("a").isNull || col("b").isNull).isEmpty)
      throw new IllegalArgumentException(
        s"connectedComponents: ids in '$aCol'/'$bCol' are null after " +
          "cast to long — pair ids must be non-null and numeric")
    // Round 1, fused (r19): with every label starting at its own id, the
    // first round's neighbor-min is just min(b) per a — one hash-agg with
    // no join, no left-join and no movement probe (on a non-empty
    // symmetric edge set SOME label always moves in round 1: for the
    // component-minimum pair u < v, v adopts a label <= u < v). Identical
    // labels to running the generic round from the identity labeling.
    var labels = edges.groupBy(col("a").as("id"))
      .agg(min(col("b")).as("nmin"))
      .select(col("id"), least(col("id"), col("nmin")).as("label"))
      .localCheckpoint(false)
    var changed = 1L
    var iter = 1
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("nid"), col("label").as("nlabel")),
          col("b") === col("nid"))
        .groupBy(col("a").as("id")).agg(min(col("nlabel")).as("nmin"))
      // Lazy checkpoint: the movement probe right below is a FULL count,
      // so it materializes the blocks itself — one job per round instead
      // of checkpoint-then-count (r19).
      val updated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"),
          (col("nmin") < col("label")).as("moved"))
        .localCheckpoint(false)
      changed = updated.filter(col("moved")).count()
      labels = updated.drop("moved")
      iter += 1
    }
    // Truncated labels are WRONG labels (a >maxIter-diameter chain would
    // keep duplicates in the kept corpus downstream) — fail loudly, never
    // return silently-unconverged output.
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          s"($changed labels still moving) — raise maxIter for graphs " +
          "with diameter beyond the dedup regime")
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")),
      iter)
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the giant-diameter scale path beside
    * [[connectedComponents]]'s O(diameter) propagation. A chain of
    * templated documents (A≈B≈C≈…, each adjacent pair a verified
    * near-dup) gives the pair graph diameter O(n); propagation needs a
    * round per hop, while the star rounds contract every component to a
    * min-rooted star in O(log²) rounds regardless of diameter.
    *
    * Per round, exactly the paper's two operations on the undirected
    * edge set E:
    *   - large-star(u): emit (v, m(u)) for every STRICTLY LARGER
    *     neighbor v > u, where m(u) = min(Γ(u) ∪ {u});
    *   - small-star(u) on the resulting larger→smaller edges: with
    *     m = min of u's smaller neighbors, re-parent those neighbors to
    *     m and connect u itself to m.
    * Both steps are one hash-agg (per-node min) + one equi-join — no
    * per-node adjacency lists are ever collected, so a high-degree hub
    * costs a wide group, not a wide row. Fixpoint = the edge set is a
    * star forest (each component's members all pointing at its min id),
    * detected by edge-set equality; edges are localCheckpointed per
    * round like the propagation variant.
    *
    * Returns (doc_id, cluster_id) over every node appearing in `pairs` —
    * the same contract as [[connectedComponents]], and label-equal to it
    * (both label by component minimum; DedupSpec pins equality, and
    * `q_dedup_clusters_star` shares `q_dedup_clusters`' oracle verbatim).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val p0 = pairs.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"))
    val allNodes = p0.select(col("a").as("id"))
      .unionAll(p0.select(col("b").as("id")))
      .distinct().localCheckpoint()
    if (!allNodes.filter(col("id").isNull).isEmpty)
      throw new IllegalArgumentException(
        s"connectedComponentsStar: ids in '$aCol'/'$bCol' are null after " +
          "cast to long — pair ids must be non-null and numeric")
    var e = p0.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    var eCount = e.count()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val adj = e.select(col("u").as("x"), col("v").as("y"))
        .unionAll(e.select(col("v").as("x"), col("u").as("y")))
      val mn = adj.groupBy(col("x"))
        .agg(min(col("y")).as("nmin"))
        .select(col("x"), least(col("x"), col("nmin")).as("m"))
      // large-star: y > x >= m(x), so (y, m) is already larger→smaller
      val eL = adj.join(mn, "x")
        .filter(col("y") > col("x") && col("y") =!= col("m"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct().localCheckpoint(false)
      // small-star over larger→smaller edges: per node u, min smaller
      // neighbor m; re-parent the other smaller neighbors and u to m
      val mnS = eL.groupBy(col("u")).agg(min(col("v")).as("m"))
      val eNew = eL.join(mnS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionAll(mnS.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct().localCheckpoint(false)
      // The previous round's count is carried, not recomputed — one
      // fewer action per round; the count is the lazy checkpoint's
      // materializing action (r19).
      val eNewCount = eNew.count()
      done = eNewCount == eCount &&
        eNew.exceptAll(e).isEmpty
      e = eNew
      eCount = eNewCount
      iter += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter " +
          "rounds — beyond the algorithm's O(log^2 n) bound, so the " +
          "edge input is likely pathological (or maxIter was lowered)")
    // Converged e is a star forest (member u → component-min v); roots
    // and any isolated input nodes label themselves.
    val members = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
    val roots = allNodes
      .join(members, allNodes("id") === members("doc_id"), "left_anti")
      .select(col("id").as("doc_id"), col("id").as("cluster_id"))
    members.unionAll(roots)
  }

  /** Substring-level exact dedup, phase 1: gram positions that are part of
    * a duplicated run of >= `l` tokens (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr
    * removes repeated >=50-token spans INSIDE otherwise-distinct
    * documents; whole-doc dedup and shingle-set near-dup both miss this
    * case). The paper builds a suffix array; with the span length fixed
    * at `l`, l-gram equality is a complete substitute — every repeated
    * span of >= l tokens is exactly a maximal run of positions whose
    * l-gram occurs >= 2 times corpus-wide (self-repeats included, as in
    * the paper) — so the whole detection is one hash shuffle on the gram
    * digest: O(tokens) rows carrying a 32-byte md5, never the l-token
    * gram text, and no suffix-array construction. `l` is a dial: the
    * paper uses 50 for web-scale corpora; the fixture's docs run 10-99
    * tokens, so callers here use 20.
    *
    * Returns (doc_id, pos): 0-based token positions (as long) whose
    * l-gram is duplicated. Downstream turns runs into spans
    * (gaps-and-islands) or masks tokens (running-max coverage window).
    */
  def substringDupPositions(docs: DataFrame, idCol: String, textCol: String,
      l: Int): DataFrame = {
    // r19: the digest shuffles as unhex(md5) — the same 128 bits as
    // 16-byte binary instead of a 32-char hex string, halving the width
    // of the one gram-keyed exchange (the window partitioning) at
    // unchanged exactness (guide §2.3 "narrower types"); unhex is a
    // bijection on md5 output, so occurrence counts are identical.
    val grams = widened(docs)
      .filter(size(split(col(textCol), " ")) >= l)
      .select(col(idCol),
        posexplode(shingles(col(textCol), l)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        unhex(md5(col("gram").cast("binary"))).as("h"))
    import org.apache.spark.sql.expressions.Window
    grams
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n") >= 2)
      .select(col(idCol), col("pos"))
  }

  /** Cross-set twin of [[substringDupPositions]]: positions in `docs`
    * whose l-gram occurs anywhere in `ref` — decontamination at SPAN
    * granularity (ref = the eval split). The ref digest set is
    * distinct'd once and the probe is a LEFT SEMI join on the 32-byte
    * gram digest (never the gram text) — one hash shuffle, no
    * row-multiplication however often a gram repeats in ref.
    *
    * Returns (doc_id, pos) like the within-corpus variant, so the same
    * gaps-and-islands span merge and running-max coverage rewrite
    * compose on top.
    */
  def substringMatchPositions(docs: DataFrame, ref: DataFrame,
      idCol: String, textCol: String, l: Int): DataFrame = {
    // r19: 16-byte binary digests on both semi-join sides (the
    // substringDupPositions rationale) — half the probe-side shuffle.
    def grams(df: DataFrame): DataFrame = widened(df)
      .filter(size(split(col(textCol), " ")) >= l)
      .select(col(idCol),
        posexplode(shingles(col(textCol), l)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        unhex(md5(col("gram").cast("binary"))).as("h"))
    grams(docs)
      .join(grams(ref).select(col("h")).distinct(), Seq("h"), "left_semi")
      .select(col(idCol), col("pos"))
  }
}
