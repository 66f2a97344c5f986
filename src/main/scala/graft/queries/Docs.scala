package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Dedup, Multimodal, Similarity, Text, Unigram}

/** LLM-training-data operators over the documents fixture (north star:
  * dedup, text analysis, multimodal columns) as driver-checkable
  * (Spark, DuckDB-SQL) pairs.
  *
  * No terminal presentation ORDER BY — the driver's checker sorts rows by
  * all columns before hashing. The only kept sorts are q_vocab_topk's and
  * q_sample_det's, where LIMIT depends on order (TakeOrderedAndProject).
  *
  * Scale notes per query:
  *   - text stats / fingerprint / multimodal: pure codegen'd projections
  *     (and one narrow mapPartitions for the media decode) — no shuffle.
  *   - minhash: explode→hash-agg→banded equi-join, shuffle O(docs × bands).
  *   - simhash: explode→hash-agg→banded equi-join on 16-bit blocks.
  *   - jaccard: inverted-index join on shared shingles — the exact-verify
  *     pass for LSH candidates, quadratic only within a shared-shingle
  *     bucket.
  */
object Docs {

  /** Scratch-cached [[graft.engine.Pipeline.writeDedupState]] layout —
    * built once per fixture dir, read by `q_dedup_state_kept`. Exposed
    * (with [[dedupStateIncrDir]]) so [[graft.Materializations]] can price
    * the build as its own ledger line instead of whichever consumer
    * query happens to run first absorbing it.
    */
  private[graft] def dedupStateDir(s: SparkSession, dir: String): String =
    Scratch.cached(s"dedup-state:$dir") { tmp =>
      val o = tmp + "/state"
      graft.engine.Pipeline.writeDedupState(s, dir, o)
      o
    }

  /** Scratch-cached build-then-fold state for `q_dedup_state_incr`:
    * state from HALF the corpus (even ids), folded forward with the odd
    * half via [[graft.engine.Pipeline.updateDedupState]].
    */
  private[graft] def dedupStateIncrDir(s: SparkSession, dir: String)
      : String =
    Scratch.cached(s"dedup-state-incr:$dir") { tmp =>
      val o = tmp + "/state"
      val firstHalf = tmp + "/first"
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .write.parquet(s"$firstHalf/documents.parquet")
      graft.engine.Pipeline.writeDedupState(s, firstHalf, o)
      graft.engine.Pipeline.updateDedupState(s, dir, o,
        docs.filter(col("doc_id") % 2 =!= 0))
      o
    }

  /** Deterministic multi-line view of a document — the fixture's texts are
    * single-line, so the published LINE-level quality rules (Gopher
    * duplicate-line/paragraph fractions, Rae 2021 Appendix A; C4's line
    * filters, Raffel 2020 §2.2) would be vacuous over raw `text`. Instead
    * of faking the rules, synthesize the line structure as pure arithmetic
    * on (doc_id, text) — the buildWav posture: both engines derive the
    * SAME lines, so the rules are real and oracle-checkable.
    *
    * Construction (all HOFs, zero shuffle, codegen-free of UDFs):
    *   - line width lw = 4 + doc_id % 5 words; base lines are consecutive
    *     lw-word slices joined by spaces;
    *   - line i gets a terminal '.' iff (doc_id + i) % 3 != 0, so ~1/3 of
    *     lines fail C4's terminal-punctuation rule;
    *   - doc_id % 5 == 0  appends a copy of line 1 (duplicate line);
    *   - doc_id % 11 == 0 appends copies of lines 1-2 (a duplicate
    *     2-line paragraph when the append lands block-aligned);
    *   - doc_id % 7 == 0  appends an unpunctuated boilerplate line
    *     containing "javascript"/"cookie" (C4 policy-line positive);
    *   - doc_id % 101 == 0 appends "lorem ipsum { }" (C4 page-level drop);
    *   - doc_id % 13 == 0  PREPENDS a fixed 3-line boilerplate header —
    *     the same three sentences on every 13th page, the CROSS-document
    *     duplicated 3-sentence span C4's span dedup (Raffel 2020 §2.2)
    *     exists to remove (each header line passes the C4 line filters
    *     individually, so only the span-level rule catches it).
    */
  private def synthLines(docId: Column, text: Column): Column = {
    val toks = split(text, " ")
    val lw = (docId % 5 + 4).cast("int")
    val nl = floor((size(toks) + lw - 1) / lw).cast("int")
    val base = transform(sequence(lit(0), nl - 1), i =>
      concat(array_join(slice(toks, (i * lw + 1).cast("int"), lw), " "),
        when((docId + i) % 3 =!= 0, lit(".")).otherwise(lit(""))))
    val withDupLine = when(docId % 5 === 0,
      concat(base, slice(base, 1, 1))).otherwise(base)
    val withDupPara = when(docId % 11 === 0,
      concat(withDupLine, slice(base, 1, 2))).otherwise(withDupLine)
    val withPolicy = when(docId % 7 === 0, concat(withDupPara,
      array(lit("please enable javascript and accept our cookie policy"))))
      .otherwise(withDupPara)
    val withLorem = when(docId % 101 === 0,
      concat(withPolicy, array(lit("lorem ipsum { }")))).otherwise(withPolicy)
    when(docId % 13 === 0,
      concat(array(headerLines.map(lit): _*), withLorem)).otherwise(withLorem)
  }

  /** The %13 boilerplate header — ONE definition feeding [[synthLines]],
    * its DuckDB twin (interpolated into [[synthLinesCte]]), and the spec
    * fixture (CurationOpsSpec.refLines references this val).
    */
  private[queries] val headerLines = Seq(
    "shared boilerplate navigation menu.",
    "subscribe to our newsletter today.",
    "copyright footer all rights reserved.")

  /** Non-overlapping 2-line paragraphs over a [[synthLines]] array (odd
    * tail = a 1-line paragraph) — the paragraph granularity the Gopher
    * duplicate-paragraph fractions run at.
    */
  private def synthParas(lines: Column): Column =
    transform(sequence(lit(0), floor((size(lines) + 1) / 2).cast("int") - 1),
      j => array_join(slice(lines, (j * 2 + 1).cast("int"), lit(2)), " "))

  /** Start positions (doc_id, pos) of every NON-KEEPER occurrence of a
    * 3-sentence span duplicated anywhere in the corpus — C4's
    * cross-document span dedup unit (Raffel et al. 2020 §2.2: "we
    * discarded all but one of any three-sentence span occurring more
    * than once in the data set"), at this fixture's sentence == ladder
    * line granularity. One corpus scan builds the (doc_id, pos, digest)
    * stream — the span text never leaves the map side, only its 16-byte
    * md5 shuffles (unhex'd to binary: the hex string would be 32 bytes
    * per occurrence), and the stream is localCheckpointed because it
    * feeds BOTH the duplicate-digest aggregate and the join back (the
    * family's feeds-two-consumers convention — without it the
    * synthLines+md5 corpus scan recomputes per consumer).
    * Keep-first semantics via min(struct(doc_id, pos)) per
    * digest: a partial-aggregable hash-agg (map-side combine confines a
    * boilerplate span repeated across millions of docs), unlike a
    * per-digest rank window whose hot key would land in one task; the
    * join back on the digest is AQE-skew-splittable. Feeds the family's
    * gaps-and-islands merge and running-max coverage rewrite unchanged.
    */
  private def c4DupSpanStarts(docs: DataFrame): DataFrame =
    c4DupSpanStartsFromLines(docLines(docs))

  /** The widened (doc_id, lines) ladder projection — shared so a
    * consumer that ALSO needs the line tokens (q_dedup_c4_kept) can
    * checkpoint it once instead of paying the synthLines transform per
    * subtree (r19: the ladder evaluation, not the shuffle, is this
    * family's cost).
    */
  private def docLines(docs: DataFrame): DataFrame =
    // r19: widened — the synthLines + md5-per-triple explode is the
    // langid chargram cost class, and the fixture scan is one split.
    widened(docs, widen = true)
      .select(col("doc_id"),
        synthLines(col("doc_id"), col("text")).as("lines"))

  private def c4DupSpanStartsFromLines(lines: DataFrame): DataFrame = {
    val occ = lines
      .filter(size(col("lines")) >= 3)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("lines")) - 3),
          i => unhex(md5(array_join(slice(col("lines"), i + 1, lit(3)),
            "\n")))))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
      .localCheckpoint()
    val dup = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select(col("h"), col("keep"))
    occ.join(dup, Seq("h"))
      .filter(col("doc_id") =!= col("keep.doc_id") ||
        col("pos") =!= col("keep.pos"))
      .select(col("doc_id"), col("pos"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: token counts (whitespace + BPE-ish regex), mean token
    // length, n-gram-heuristic language ID, quality score, fingerprint —
    // one codegen'd projection, zero shuffle.
    "q_text_stats" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.nTokens(col("text")).as("n_tokens"),
        Text.nDistinctTokens(col("text")).as("n_distinct_tokens"),
        Text.nRegexTokens(col("text")).as("n_regex_tokens"),
        Text.avgTokenLen(col("text")).as("avg_token_len"),
        Text.langId(col("text")).as("lang_id"),
        Text.qualityScore(col("text")).as("quality"),
        Text.fingerprint(col("text")).as("fingerprint"))),

    // Exact dedup by md5 fingerprint: group on the 32-char hash (never the
    // body), count multiplicity, keep the lowest doc_id as survivor.
    "q_dedup_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))),

    // URL-canonicalization dedup — the one published pre-training dedup
    // stage that runs BEFORE any content dedup: C4 (Raffel et al. 2020)
    // and Dolma (Soldaini et al. 2024) both collapse crawl records by
    // normalized URL first, because re-crawls of one page differ in
    // case, default port, tracking params, trailing slash and fragment
    // while the canonical resource is identical. URLs here are
    // deterministic arithmetic on doc_id (TESTDATA.md pins the fixture
    // read-only — the buildWav/pHash posture), exercising every rule:
    // mixed-case scheme/host, :80/:443/:8080 ports, utm_*/ref tracking
    // params beside a REAL id= param that must survive, trailing
    // slashes, fragments. [[urlCanon]] is the reusable operator — one
    // codegen'd projection (parse_url + regexp + array HOFs) — and the
    // keep-first is c4DupSpanStarts' hash-agg shape: group on the canon
    // string, min(doc_id) survivor, map-side combine confining any hot
    // canonical key; the raw URL never shuffles.
    "q_dedup_url" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), synthUrl.as("url"))
        .select(col("doc_id"), urlCanon(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))),

    // MinHash+LSH candidate pairs: 8 hashes, 4 bands × 2 rows.
    "q_dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")),

    // Exact n-gram Jaccard over shared-shingle pairs (the LSH verify pass).
    "q_dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 0.5)),

    // EXACT near-dup pairs by prefix filtering (SSJoin/PPJoin lineage):
    // the lossless alternative to MinHash-LSH — candidates must share a
    // token in each side's rarest-first prefix of length
    // |x| − ceil(t·|x|) + 1, verified with the family's shared jaccard
    // arithmetic. The ORACLE IS q_dedup_jaccard's blocking-free SQL, so
    // hash-equality proves the prefix filter drops zero true pairs.
    "q_dedup_ppjoin" -> ((s, dir) =>
      Dedup.jaccardPrefixPairs(t(s, dir, "documents"), "doc_id", "text",
        0.5)),

    // SimHash near-dup pairs: 64-bit signature, 4×16-bit LSH bands,
    // Hamming ≤ 3 on candidates.
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text")),

    // Substring-level exact dedup (Lee et al. 2021 ExactSubstr): maximal
    // duplicated >=20-token spans per doc — the repeated region INSIDE
    // otherwise-distinct documents that whole-doc and shingle-set dedup
    // both miss. Duplicated gram positions (one hash shuffle on the gram
    // digest, ext/Dedup.substringDupPositions) → gaps-and-islands run
    // merge per doc (window + hash-agg, second shuffle). Overlapping
    // repeated spans coalesce into one maximal span, exactly like the
    // oracle's window twin.
    "q_dedup_substring" -> ((s, dir) =>
      spanMerge(Dedup.substringDupPositions(
        t(s, dir, "documents"), "doc_id", "text", 20), l = 20)),

    // The rewrite phase: every token covered by a duplicated >=20-token
    // span is dropped from every occurrence (the paper's ExactSubstr cut
    // semantics) and the survivor text is reassembled in token order.
    // Coverage is a running max of flagged-span ends over the token
    // stream — one window per doc, no token×span range join. Shuffles:
    // gram digest (flag), (doc,pos) equi-join, doc (window + rebuild agg).
    "q_dedup_substring_kept" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      coverageRewrite(docs,
        Dedup.substringDupPositions(docs, "doc_id", "text", 20), l = 20)
    }),

    // Span-level decontamination: the flag→trim completion of the
    // decontamination family. Same 5-gram rule as q_decontam_ngram, but
    // instead of flagging whole train docs it localizes the MAXIMAL
    // contaminated spans (every train position whose 5-gram occurs
    // anywhere in val/test; cross-set LEFT SEMI on the gram digest →
    // gaps-and-islands merge) — the surgical removal that keeps a long
    // doc whose one quoted benchmark answer would otherwise discard it.
    "q_decontam_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      spanMerge(Dedup.substringMatchPositions(
        docs.filter(splitCol(col("doc_id")) === "train"),
        docs.filter(splitCol(col("doc_id")) =!= "train"),
        "doc_id", "text", 5), l = 5)
    }),

    // The trim phase: every train token covered by a contaminated span is
    // dropped and the survivor text reassembled — q_dedup_substring_kept's
    // running-max coverage rewrite pointed at the cross-split flags.
    "q_decontam_spans_kept" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(splitCol(col("doc_id")) === "train")
      coverageRewrite(train, Dedup.substringMatchPositions(train,
        docs.filter(splitCol(col("doc_id")) =!= "train"),
        "doc_id", "text", 5), l = 5)
    }),

    // C4's cross-document span dedup (Raffel et al. 2020 §2.2) — the one
    // published C4 curation stage beyond the line filters: all but one
    // occurrence of any 3-sentence span repeated anywhere in the corpus
    // is removed. Sentences come from the same synthLines ladder the
    // quality rows run on (TESTDATA.md pins the fixture read-only, so
    // deterministic line arithmetic is the only oracle-checkable route
    // to sentence structure). This row reports the maximal flagged
    // regions per doc in SENTENCE units: non-keeper occurrences from
    // [[c4DupSpanStarts]], coalesced by the family's gaps-and-islands
    // merge — overlapping and touching flags become ONE maximal span,
    // exactly like the ExactSubstr rows.
    "q_dedup_c4_spans" -> ((s, dir) =>
      spanMerge(c4DupSpanStarts(t(s, dir, "documents")), l = 3,
        unit = "lines")),

    // The rewrite phase: every sentence covered by a flagged (non-keeper)
    // span occurrence is dropped and the page reassembled from the
    // surviving sentences in order — q_dedup_substring_kept's running-max
    // coverage window pointed at line positions (l = 3 sentences). The
    // keeper occurrence keeps its sentences unless a DIFFERENT flagged
    // span overlaps them — all-but-one semantics, localized to the span.
    "q_dedup_c4_kept" -> ((s, dir) => {
      // ONE ladder evaluation feeds both the flag side (md5-per-triple
      // explode) and the token side (r19: the query paid the synthLines
      // transform twice). Lazy checkpoint — c4DupSpanStartsFromLines'
      // eager occ checkpoint is the materializing action, after which
      // the token explode reads cached line arrays.
      val lines = docLines(t(s, dir, "documents")).localCheckpoint(false)
      val toks = lines
        .select(col("doc_id"),
          posexplode(col("lines")).as(Seq("pos", "token")))
        .withColumn("pos", col("pos").cast("long"))
      coverageRewriteToks(toks, c4DupSpanStartsFromLines(lines), l = 3)
    }),

    // Near-dup provenance matrix: verified pairs annotated with BOTH sides'
    // source, rolled up per unordered source pair — the syndication
    // diagnostic (which feeds re-publish which) a curation run reads before
    // deciding per-source mixture weights. The source lookup joins on doc
    // id (corpus-sized — never assumed broadcastable); the pair key is
    // normalized least/greatest so (A,B) and (B,A) land in one cell.
    "q_dedup_cross_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 4).as("avg_jaccard"))
    }),

    // LSH recall audit — measure, don't guess: the banded-minhash candidate
    // set scored against the exact inverted-index ground truth (all pairs
    // with Jaccard ≥ 0.5 share a shingle, so the index join IS exhaustive
    // truth at this threshold). ONE materialized distinct-shingle set feeds
    // both paths; output is one row (truth size, candidates emitted,
    // detected, recall) — the number that justifies shipping the O(docs ×
    // bands) path instead of the hot-shingle-quadratic exact join at 100 TB.
    "q_dedup_recall" -> ((s, dir) => {
      // r19: the shared materialization is the HASHED distinct set, not
      // the raw text shingles — the truth join only tests gram equality
      // (8-byte keys suffice, the family discipline), and the minhash
      // signature is duplicate-insensitive so it reads the RAW exploded
      // stream directly (bit-identical mins; map-side combine ships only
      // per-doc partials). The old shape distinct'd and checkpointed the
      // full gram TEXT stream to feed both paths.
      val raw = Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
      val shh = raw
        .select(col("doc_id"), xxhash64(col("shingle")).as("shash"))
        .repartition(col("doc_id"))
        .dropDuplicates(Seq("doc_id", "shash")).localCheckpoint()
      val truth = Dedup.jaccardFromHashed(shh, "doc_id", 0.5)
        .select("doc_a", "doc_b")
      val cand = Dedup.bandsToCandidatePairs(
        Dedup.lshBands(Dedup.minhashFromShingles(raw, "doc_id")
          .localCheckpoint(), "doc_id"), "doc_id")
      val scored = truth
        .join(cand.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_detected"),
          // empty truth ⇒ NULL, not 0/0 (ANSI divide-by-zero) — mirrored
          // in the oracle so both engines agree on the degenerate corpus
          when(count(lit(1)) > 0,
            round(count(col("hit")).cast("double") / count(lit(1)), 4))
            .otherwise(lit(null).cast("double")).as("recall"))
      scored.crossJoin(broadcast(cand.agg(count(lit(1)).as("n_candidates"))))
    }),

    // Vocabulary building: corpus-wide token frequencies, top 50 — explode
    // is map-side, the count is one partial+final hash-agg, and the top-k
    // is TakeOrderedAndProject (no global sort of the vocabulary).
    // Scale note: the r13 ledger flagged this row 15.4× at factor 10; in
    // isolation (same fixtures) it measures 1.13× — the excess
    // was suite-order GC debt inherited from the graph family's multi-GB
    // shuffles that precede it alphabetically, fixed in ScaleSuite by
    // min-of-two-runs timing + a collect between queries.
    "q_vocab_topk" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)),

    // The heavy-hitters twin of q_vocab_topk: ONE mergeable frequent-items
    // sketch (approx_top_k, DataSketches) instead of a corpus-wide
    // hash-agg — the exact form shuffles every distinct token to count
    // it; the sketch shuffles ONE bounded-size buffer per partition, the
    // 100 TB shape for "what are the top tokens" when the vocabulary
    // itself is huge. With capacity ≥ the distinct-token count the sketch
    // is exact, so the oracle is the exact query's; the deterministic
    // re-rank on (n desc, token asc) restores the tie-break the sketch's
    // internal ordering doesn't promise.
    "q_vocab_topk_approx" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .agg(expr("approx_top_k(token, 50, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(50)),

    // BPE tokenizer induction (Sennrich et al. 2016): the 8 highest-count
    // merge rules learned from the corpus word-frequency table. The corpus
    // is scanned once (the vocab shuffle); each round runs over the
    // Zipf-small vocab only, with one single-row driver collect (the
    // argmax — kmeans-step precedent). Greedy-leftmost merge application
    // is a literal replace over the bracketed symbol repr, identical
    // semantics in both engines; ties break (count desc, pair asc).
    "q_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val (rules, _) = Bpe.learnMerges(t(s, dir, "documents"), "text", 8)
      rules.toDF().select(col("step"), col("symA").as("sym_a"),
        col("symB").as("sym_b"), col("pairCount").as("pair_count"))
    }),

    // The trained tokenizer applied: every corpus word's segmentation
    // after the 8 merges — the pieces-per-word table tokenizer
    // fertility/compression audits read. Same learn chain as
    // q_bpe_merges; the apply phase is a pure projection on the vocab.
    "q_bpe_apply" -> ((s, dir) =>
      Bpe.segmentation(
        Bpe.learnMerges(t(s, dir, "documents"), "text", 8)._2)),

    // Per-document token counts under the TRAINED tokenizer — the number
    // packing and batching actually budget against (whitespace counts are
    // the pre-tokenizer proxy). Same broadcast-join shape as fertility,
    // grouped back to the document grain.
    "q_bpe_doc_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seg = Bpe.segmentation(Bpe.learnMerges(docs, "text", 8)._2)
        .select(col("word"), col("n_pieces"))
      docs.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("word"))
        .join(seg, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_bpe_tokens"))
    }),

    // Tokenizer fertility per language: mean pieces per word OCCURRENCE
    // under the trained tokenizer — the compression audit that decides
    // whether a tokenizer underserves a language. Second corpus pass
    // joins the exploded word stream to the Zipf-small segmentation
    // table (broadcast-eligible), then one lang hash-agg with map-side
    // combine; exact integer piece sums, one shared IEEE division.
    "q_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seg = Bpe.segmentation(Bpe.learnMerges(docs, "text", 8)._2)
        .select(col("word"), col("n_pieces"))
      docs.select(col("lang"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("word"))
        .join(seg, Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          round(sum(col("n_pieces")).cast("double") / count(lit(1)), 4)
            .as("fertility"))
    }),

    // Unigram-LM tokenizer induction (Kudo 2018) beside BPE — the final
    // piece vocabulary after two hard-EM rounds (seed from frequent
    // substrings → Viterbi E-step → usage M-step → prune → round 2):
    // (piece, piece_len, cnt = round-2 usage, cost_micro = the round-2
    // integer micro-nat cost the final segmentation minimized). The
    // oracle re-derives the identical rounds with the E-step as an
    // EXHAUSTIVE recursive-CTE enumeration of all segmentations min'd by
    // (cost, repr) — an independent formulation, so a green row proves
    // the engine's linear Viterbi DP equals the brute-force argmin.
    "q_unigram_tok_vocab" -> ((s, dir) => {
      import s.implicits._
      val (p2, seg2) = Unigram.train(t(s, dir, "documents"), "text")
      p2.map(p => (p.piece, p.costMicro)).toDF("piece", "cost_micro")
        .join(Unigram.usageCounts(seg2), Seq("piece"), "left")
        .select(col("piece"),
          length(col("piece")).cast("long").as("piece_len"),
          coalesce(col("cnt"), lit(0L)).as("cnt"), col("cost_micro"))
    }),

    // The trained unigram tokenizer applied: every corpus word's final
    // Viterbi segmentation — the q_bpe_apply twin for the other
    // tokenizer family, directly comparable piece-for-piece.
    "q_unigram_tok_apply" -> ((s, dir) =>
      Unigram.train(t(s, dir, "documents"), "text")._2),

    // Unigram-tokenizer fertility per language (mean pieces per word
    // occurrence) — comparable side by side with q_bpe_fertility: same
    // second corpus pass joining the exploded word stream to the
    // Zipf-small broadcast segmentation table, same exact integer sums.
    "q_unigram_tok_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seg = Unigram.train(docs, "text")._2
        .select(col("word"), col("n_pieces"))
      docs.select(col("lang"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("word"))
        .join(broadcast(seg), Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          round(sum(col("n_pieces")).cast("double") / count(lit(1)), 4)
            .as("fertility"))
    }),

    // Per-document token counts under the TRAINED unigram tokenizer —
    // q_bpe_doc_tokens' twin for the other tokenizer family, completing
    // the vocab/apply/fertility/doc_tokens symmetry on both: the number
    // packing and batching actually budget against, under the Kudo-2018
    // piece table instead of the BPE merges. Same shape: one exploded
    // word stream joined to the Zipf-small broadcast segmentation table,
    // one doc-grain hash-agg with map-side combine.
    "q_unigram_doc_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val seg = Unigram.train(docs, "text")._2
        .select(col("word"), col("n_pieces"))
      docs.select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")),
            lit("[a-z]+"), lit(0))).as("word"))
        .join(broadcast(seg), Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_pieces")).as("n_unigram_tokens"))
    }),

    // Length-bucketed batching: group docs into 32-token length buckets,
    // fill 2048-token batches inside each bucket in (n_tokens, doc_id)
    // order, and report per-batch padding waste (1 − tokens/(max·n)) —
    // the dynamic-batching audit that decides how much compute padding
    // burns. One window (running sum, exact longs) + one hash-agg; the
    // window partitions by bucket, a data-scaled key, never globally.
    "q_length_batches" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(col("doc_id"),
          Text.nTokens(col("text")).as("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 32"))
      val w = Window.partitionBy(col("bucket"))
        .orderBy(col("n_tokens"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      toks
        .withColumn("bfr", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("batch_id", expr("bfr div 2048"))
        .groupBy(col("bucket"), col("batch_id"))
        .agg(count(lit(1)).as("n_seqs"),
          max(col("n_tokens")).as("max_len"),
          sum(col("n_tokens")).as("sum_tokens"),
          round(lit(1.0) - sum(col("n_tokens")).cast("double") /
            (max(col("n_tokens")) * count(lit(1))), 4).as("padding_frac"))
    }),

    // Boilerplate detector (the C4 "repeated verbatim span" signal): the
    // 5-token shingles that appear in the MOST DISTINCT documents, with
    // their total occurrence count — a shingle whose doc spread is high is
    // template text (headers, footers, license blurbs), the spans
    // curation strips before dedup so they can't glue unrelated docs into
    // one near-dup cluster. distinct(doc, shingle) → per-shingle hash-agg
    // (doc spread = count, occurrences summed from per-doc counts) →
    // TakeOrderedAndProject; the token stream shuffles once, keyed on
    // shingle.
    "q_boilerplate_shingles" -> ((s, dir) =>
      Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("doc_id"), col("shingle"))
        .agg(count(lit(1)).as("n_in_doc"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_in_doc")).as("n_total"))
        .filter(col("n_docs") >= 3)
        .orderBy(col("n_docs").desc, col("n_total").desc, col("shingle").asc)
        .limit(30)),

    // LM n-gram statistics: top-40 bigrams (2-token shingles) — same
    // explode/hash-agg/top-k shape as the vocabulary, one size up.
    "q_bigrams_topk" -> ((s, dir) =>
      Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text", n = 2)
        .groupBy(col("shingle").as("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(40)),

    // Distinct-n diversity (Li et al. 2016): per-source ratio of
    // distinct to total n-grams for n = 1, 2, 3 — the repetitiveness /
    // mode-collapse audit a generation or curation pass reads (a source
    // whose distinct-2 craters is templated or machine-looped). Shingle
    // semantics shared with the whole dedup family (short docs emit one
    // whole-doc gram); three explode→hash-aggs joined on the
    // source-sized result, each a single corpus pass with map-side
    // combine; each ratio ONE IEEE division of exact longs, rounded 4.
    "q_diversity_distinct_n" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def grams(n: Int, tot: String, dis: String) =
        Dedup.docShingles(docs, "source", "text", n)
          .groupBy(col("source"))
          .agg(count(lit(1)).as(tot), countDistinct(col("shingle")).as(dis))
      grams(1, "n_unigrams", "d_unigrams")
        .join(grams(2, "n_bigrams", "d_bigrams"), Seq("source"))
        .join(grams(3, "n_trigrams", "d_trigrams"), Seq("source"))
        .select(col("source"),
          col("n_unigrams"), col("d_unigrams"),
          round(col("d_unigrams").cast("double") / col("n_unigrams"), 4)
            .as("distinct_1"),
          col("n_bigrams"), col("d_bigrams"),
          round(col("d_bigrams").cast("double") / col("n_bigrams"), 4)
            .as("distinct_2"),
          col("n_trigrams"), col("d_trigrams"),
          round(col("d_trigrams").cast("double") / col("n_trigrams"), 4)
            .as("distinct_3"))
    }),

    // Language/quality distribution: the Text expressions composed in an
    // aggregate (per-language doc counts + mean quality + token volume).
    "q_lang_dist" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(Text.langId(col("text")).as("lang_id"),
          Text.qualityScore(col("text")).as("q"),
          Text.nTokens(col("text")).as("nt"))
        .groupBy(col("lang_id"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("q")), 4).as("avg_quality"),
          sum(col("nt")).as("total_tokens"))),

    // Language confusion matrix: declared label × n-gram-heuristic
    // language ID, with the agreement flag — the mislabeled-language
    // audit run before per-language curation decisions. One projection
    // pass + one hash-agg.
    "q_lang_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_id"))
        .groupBy(col("lang"), col("lang_id"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("agree", col("lang") === col("lang_id"))),

    // Classifier language-ID (the fastText-grade component CCNet §3.1,
    // Gopher and Dolma all LEAD their pipelines with, here as the
    // engine's own NB machinery): multinomial Naive Bayes over
    // whitespace unigrams, one class per DECLARED language, trained
    // distributedly on the hash-split's train docs with the declared
    // lang as the weak label — the q_nb_scores lineage generalized from
    // 2 classes to L. Same exactness discipline: every log-probability
    // is floored to a nano-unit long per (type, lang), a doc's per-lang
    // score is prior + Σ seen-type weights + (n_tokens − n_hit)·w0_lang
    // (add-one smoothing gives OOV types and types unseen in a given
    // lang the SAME c=0 weight, so one hit-count covers both), and the
    // argmax is max(struct(score, lang)) — integer compare, lang-string
    // tie-break, identical to the oracle's window formulation. Scale
    // shape: ONE train scan into a vocab×L count table (Zipf-small,
    // broadcast), ONE corpus scan for scoring (n_tokens needs no
    // explode), per-doc hash-agg — no window over the corpus.
    "q_langid_nb" -> ((s, dir) =>
      langidBest(s, dir)
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          col("score_nano"),
          (col("lang") === col("pred_lang")).as("agree"))),

    // The NB upgrade of q_lang_confusion's heuristic diagonal: declared
    // label × classifier prediction, one hash-agg over the per-doc
    // argmax rows.
    "q_langid_confusion" -> ((s, dir) =>
      langidBest(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("agree", col("lang") === col("pred_lang"))),

    // The char-trigram upgrade of q_langid_confusion: same NB scoring
    // pipeline over position grams instead of whitespace unigrams — the
    // feature family that keeps working on unsegmented scripts (CJK,
    // Thai), where whitespace tokenization yields one whole-sentence
    // "token" per doc and the unigram model collapses to the prior.
    "q_langid_chargram" -> ((s, dir) =>
      langidChargram(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("agree", col("lang") === col("pred_lang"))),

    // fastText-proper (Joulin 2016 §2: char 3-5-grams JOINTLY): the
    // trigram model's feature stream widened with the 4- and 5-gram
    // positions — longer grams see morpheme-sized context, so languages
    // sharing trigram inventories separate. Same plan shape: the gram
    // streams are 8-byte hashes end to end, one broadcast weight table,
    // one scoring scan, per-doc hash-agg; the string-keyed oracle twin
    // doubles as the hash-injectivity proof (chargramHashes scaladoc).
    "q_langid_chargram35" -> ((s, dir) =>
      langidChargram35(s, dir)
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("agree", col("lang") === col("pred_lang"))),

    // Inter-filter agreement (Cohen's kappa) between the heuristic
    // quality filter and the Gopher SHAPE rules (word count, mean word
    // length, alpha ratio, symbol ratios — the stop-word rule is
    // excluded because the fixture's synthetic vocabulary makes it
    // constant-false, which would vacuously zero the kappa; the r12
    // no-vacuous-gates lesson): the 2×2 confusion counts in one
    // aggregate pass, then kappa from exact longs via IEEE divisions
    // written in the same order on both engines (products are cast to
    // double BEFORE multiplying, so the pe numerator can't overflow a
    // long at corpus scale).
    "q_filter_agreement" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nt = size(toks).cast("double")
      val ndist = size(array_distinct(toks)).cast("double")
      val avgLen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nt
      val keepQ = nt >= 30 && nt <= 400 && ndist / nt >= 0.2 &&
        avgLen >= 2 && avgLen <= 12
      val nW = size(toks).cast("long")
      val meanLen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nW
      val nAlpha = size(filter(toks, tk => tk.rlike("[a-zA-Z]")))
        .cast("long")
      val nHash = (length(col("text")) -
        length(regexp_replace(col("text"), "#", ""))).cast("long")
      val nEll = ((length(col("text")) -
        length(replace(col("text"), lit("..."), lit("")))) / lit(3))
        .cast("long")
      val keepG = nW >= 50L && nW <= 100000L &&
        meanLen >= 3.0 && meanLen <= 10.0 &&
        nAlpha.cast("double") / nW >= 0.8 &&
        nHash.cast("double") / nW <= 0.1 &&
        nEll.cast("double") / nW <= 0.1
      val cells = t(s, dir, "documents")
        .select(keepQ.as("kq"), keepG.as("kg"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("kq") && col("kg"), 1L).otherwise(0L)).as("bk"),
          sum(when(col("kq") && !col("kg"), 1L).otherwise(0L)).as("qo"),
          sum(when(!col("kq") && col("kg"), 1L).otherwise(0L)).as("go"),
          sum(when(!col("kq") && !col("kg"), 1L).otherwise(0L)).as("bd"))
      cells.select(
        col("n").as("n_docs"), col("bk").as("n_both_keep"),
        col("qo").as("n_q_only"), col("go").as("n_g_only"),
        col("bd").as("n_both_drop"),
        round((col("bk") + col("bd")).cast("double") / col("n"), 4)
          .as("po"),
        round(((col("bk") + col("qo")).cast("double") *
            (col("bk") + col("go")) +
            (col("go") + col("bd")).cast("double") *
            (col("qo") + col("bd"))) /
          (col("n").cast("double") * col("n")), 4).as("pe"),
        round(
          ((col("bk") + col("bd")).cast("double") / col("n") -
            ((col("bk") + col("qo")).cast("double") *
              (col("bk") + col("go")) +
              (col("go") + col("bd")).cast("double") *
              (col("qo") + col("bd"))) /
            (col("n").cast("double") * col("n"))) /
          (lit(1.0) -
            ((col("bk") + col("qo")).cast("double") *
              (col("bk") + col("go")) +
              (col("go") + col("bd")).cast("double") *
              (col("qo") + col("bd"))) /
            (col("n").cast("double") * col("n"))), 4).as("kappa"))
    }),

    // Zipf fit over the top-200 vocabulary: regression of ln(freq) on
    // ln(rank) — slope ≈ −1 is the healthy-corpus signature; a flattened
    // slope flags boilerplate floods. TakeOrderedAndProject bounds the
    // vocabulary FIRST, so the rank window runs over ≤200 rows, never
    // the corpus; round(4) absorbs libm/fold-order ulps (the
    // q_stats_profile precedent).
    "q_zipf_fit" -> ((s, dir) => {
      val top = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(200)
      top
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("token").asc)))
        .agg(count(lit(1)).as("n_types"),
          round(expr("regr_slope(ln(n), ln(rank))"), 4).as("zipf_slope"),
          round(expr("regr_intercept(ln(n), ln(rank))"), 4)
            .as("zipf_intercept"),
          round(expr("regr_r2(ln(n), ln(rank))"), 4).as("r2"))
    }),

    // Source-concentration Gini coefficient: how unevenly the corpus
    // spreads over sources — G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    // ascending per-source counts. Everything stays exact longs until ONE
    // final division (the strongest parity shape); the rank window runs
    // over the source-count table, never the corpus.
    "q_source_gini" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("x"))
      counts
        .withColumn("i", row_number().over(
          Window.orderBy(col("x").asc, col("source").asc)).cast("long"))
        .agg(count(lit(1)).as("n_sources"),
          sum(col("x")).as("n_docs"),
          sum(col("i") * col("x")).as("ix"))
        .select(col("n_sources"), col("n_docs"),
          round((lit(2L) * col("ix") -
            (col("n_sources") + 1L) * col("n_docs")).cast("double") /
            (col("n_sources") * col("n_docs")), 6).as("gini"))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the word co-occurrence graph — adjacent-token pairs, symmetrized
    // and deduplicated, words densified to ids by a lexicographic
    // row_number (vocabulary-bounded window; at a ≥10^7-type vocabulary
    // swap in ext/GlobalRank — the GRAPH is isomorphic under any
    // bijective id assignment, so ranks per word are unchanged), then 5
    // exact nano-unit rounds (graft.ext.Graph.pageRankNano) and the
    // top-20 keywords by (rank, word). The corpus is scanned once for
    // pairs; everything after runs on vocabulary-sized tables.
    "q_textrank" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(Text.tokens(col("text")).as("tk"))
        .where(size(col("tk")) >= 2)
      val pairs = toks.select(explode(expr(
        "transform(sequence(0, size(tk) - 2)," +
          " i -> struct(tk[i] AS wa, tk[i + 1] AS wb))")).as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .filter(col("wa") =!= col("wb"))
      val und = pairs
        .unionAll(pairs.select(col("wb").as("wa"), col("wa").as("wb")))
        .distinct()
      val ids = und.select(col("wa").as("word"))
        .union(und.select(col("wb").as("word"))).distinct()
        .withColumn("wid",
          row_number().over(Window.orderBy(col("word"))).cast("long"))
      val edges = und
        .join(ids.select(col("word").as("wa"), col("wid").as("src")),
          Seq("wa"))
        .join(ids.select(col("word").as("wb"), col("wid").as("dst")),
          Seq("wb"))
        .select(col("src"), col("dst"))
      graft.ext.Graph.pageRankNano(edges, "src", "dst", iters = 5)
        .join(ids.select(col("wid").as("node_id"), col("word")),
          Seq("node_id"))
        .select(col("word"), col("rank_nano"))
        .orderBy(col("rank_nano").desc, col("word").asc).limit(20)
    }),

    // Per-language unigram Shannon entropy (nats), H = ln N − Σ n·ln n / N
    // — the corpus-diversity signal curation runs use to catch boilerplate
    // floods (a template-spammed language shows a collapsing H). Explode →
    // (lang, token) hash-agg → per-lang fold: both aggregations are
    // partial+final (map-side combine), and state is O(vocab), never
    // O(tokens) — the token stream itself is never shuffled, only the
    // count table.
    "q_entropy" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("n"))
      counts.groupBy(col("lang"))
        .agg(sum(col("n")).as("n_tokens"), count(lit(1)).as("vocab"),
          sum(col("n") * log(col("n"))).as("sum_nlogn"))
        .select(col("lang"), col("n_tokens"), col("vocab"),
          round(log(col("n_tokens")) -
            col("sum_nlogn") / col("n_tokens"), 4).as("entropy_nats"))
    }),

    // Context-window chunking with overlap: each doc expands to its
    // 32-token windows at stride 24 (window − 8 overlap) — the chunk
    // table a pretraining/RAG loader materializes. Pure arithmetic +
    // sequence() explode: chunk count and sizes derive from the token
    // count alone, so no token array is shuffled — the expansion is
    // map-side and output rows ≈ tokens/stride.
    "q_chunk_overlap" -> ((s, dir) => {
      val win = 32L
      val stride = 24L
      t(s, dir, "documents")
        .select(col("doc_id"), Text.nTokens(col("text")).as("nt"))
        .withColumn("n_chunks", when(col("nt") <= win, 1L)
          .otherwise(lit(1L) +
            ceil((col("nt") - win).cast("double") / stride).cast("long")))
        .select(col("doc_id"), col("nt"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          least(lit(win), col("nt") - col("chunk_idx") * stride)
            .as("chunk_tokens"))
    }),

    // Chunk MATERIALIZATION (the RAG/pretraining loader's actual output,
    // where q_chunk_overlap computes only the accounting): each 32-token
    // window at stride 24 is sliced out of the token array and re-joined
    // into chunk text. Map-side only — the token array never leaves its
    // row, the explode multiplies rows ≈ tokens/stride, and no shuffle
    // exists in the plan; at 100 TB this runs at scan speed and the output
    // lands partitioned exactly like the input.
    "q_chunk_text" -> ((s, dir) => {
      val win = 32L
      val stride = 24L
      t(s, dir, "documents")
        .select(col("doc_id"), Text.tokens(col("text")).as("t"))
        .withColumn("nt", size(col("t")).cast("long"))
        .withColumn("n_chunks", when(col("nt") <= win, 1L)
          .otherwise(lit(1L) +
            ceil((col("nt") - win).cast("double") / stride).cast("long")))
        .select(col("doc_id"), col("t"), col("nt"),
          explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", slice(col("t"),
            (col("chunk_idx") * stride + 1).cast("int"),
            least(lit(win), col("nt") - col("chunk_idx") * stride)
              .cast("int"))).as("chunk_text"))
    }),

    // Temperature-based mixture sampling (the multilingual-pretraining
    // reweighting of mT5/XLM-R): per-token keep-probability ∝ share^(α−1)
    // with α = 0.5, anchored so the SMALLEST source keeps 100% —
    // pct_s = ⌊100·√(n_min/n_s)⌋ — which flattens the source distribution
    // toward uniform without upsampling. The rate formula is one division
    // and one correctly-rounded IEEE sqrt on exact longs (no float
    // aggregation anywhere), so both engines compute bit-identical rates;
    // membership is the usual pure doc-id hash. Marginals are a 1-row /
    // |sources|-row broadcast; the corpus is touched once.
    "q_mixture_temperature" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), Text.nTokens(col("text")).as("nt"))
        .localCheckpoint() // feeds the marginal agg AND the membership scan
      val bySrc = docs.groupBy(col("source")).agg(sum(col("nt")).as("n_s"))
      val mn = bySrc.agg(min(col("n_s")).as("n_min"))
      val rates = bySrc.crossJoin(broadcast(mn))
        .withColumn("pct", least(lit(100L),
          floor(lit(100.0) *
            sqrt(col("n_min").cast("double") / col("n_s"))).cast("long")))
        .select(col("source"), col("pct"))
      docs.join(broadcast(rates), "source")
        .filter(hashBucket(concat(lit("temp:"), col("doc_id").cast("string")))
          < col("pct"))
        .groupBy(col("source"))
        .agg(min(col("pct")).as("pct"), count(lit(1)).as("n_docs_kept"),
          sum(col("nt")).as("n_tokens_kept"))
    }),

    // Split-parity audit: per-(split, lang) counts, average length, and
    // within-split language share — the bias check that a hash split is
    // supposed to pass by construction (a skewed share means the split
    // key correlates with content and eval metrics won't transfer).
    // Two tiny aggregates; the share window runs over |splits|×|langs|
    // rows, never the corpus.
    "q_split_parity" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(splitCol(col("doc_id")).as("split"), col("lang"),
          col("n_chars"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 2).as("avg_chars"))
      d.withColumn("share", round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.partitionBy(col("split"))), 4))
    }),

    // Out-of-vocabulary rate per language against a frequency-thresholded
    // corpus vocabulary (tokens seen ≥ 50×) — the tokenizer-coverage
    // metric an LLM pipeline tracks per ingest slice. The vocab is
    // defined by a COUNT THRESHOLD, not top-K: a K-cut ties at the
    // boundary and ties are engine-order-dependent; the threshold is a
    // pure function of the data. Token stream LEFT-joins the vocab on
    // token; vocab size is heavy-tail-bounded but data-dependent, so the
    // join strategy is left to the planner/AQE rather than forced
    // broadcast.
    "q_oov_rate" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("lang"), explode(Text.tokens(col("text"))).as("tk"))
        .localCheckpoint() // feeds the vocab agg AND the join probe side
      val vocab = tok.groupBy(col("tk")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 50)
        .select(col("tk"), lit(true).as("in_vocab"))
      tok.join(vocab, Seq("tk"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          count_if(col("in_vocab").isNull).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          round(col("n_oov").cast("double") / col("n_tokens"), 4)
            .as("oov_rate"))
    }),

    // Per-source KL divergence from the corpus token distribution,
    // D(P_src ‖ P_corpus) = Σ_t (n_st/N_s)·ln(n_st·N / (N_s·n_t)) — the
    // drift detector curation runs per ingest source (a source whose
    // unigram mix diverges from the corpus is boilerplate, spam, or the
    // wrong language). Support is total by construction (every source
    // token is a corpus token), so no smoothing term. The (source, token)
    // count table is computed once and re-aggregated for both marginals;
    // the per-token corpus count joins back on token as an ordinary
    // shuffle join (vocab-sized — too big to assume broadcastable at
    // 100 TB), the 5-row per-source totals broadcast.
    "q_kl_sources" -> ((s, dir) => {
      val st = t(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("n_st"))
        .localCheckpoint() // feeds three aggregations below
      val byTok = st.groupBy(col("tok")).agg(sum(col("n_st")).as("n_t"))
      val bySrc = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
      val total = st.agg(sum(col("n_st")).as("nn"))
      st.join(byTok, "tok")
        .join(broadcast(bySrc), "source")
        .crossJoin(broadcast(total))
        .groupBy(col("source"))
        .agg(first(col("n_s")).as("n_tokens"),
          round(sum((col("n_st").cast("double") / col("n_s")) *
            log(col("n_st").cast("double") * col("nn") /
              (col("n_s").cast("double") * col("n_t")))), 4).as("kl_nats"))
    }),

    // Unigram-LM negative log-likelihood per document — the CCNet/KenLM
    // perplexity-filter signal, restated with the corpus itself as the LM:
    // nll_d = Σ_{t∈d} ln(N / n_t) / |d| (nats/token). Low = stuffed with
    // corpus boilerplate; high = rare-token soup — both tails are what
    // perplexity filtering trims. Support is total by construction (every
    // doc token is a corpus token), so no smoothing term. Shape: ONE
    // materialized token stream feeds the model aggregation and the scoring
    // join (token-keyed shuffle, vocab too big to assume broadcastable at
    // scale); the 1-row corpus total broadcasts.
    "q_perplexity" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .localCheckpoint() // feeds the model agg AND the scoring join
      val model = tok.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
      val total = tok.agg(count(lit(1)).as("nn"))
      tok.join(model, "tok")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(log(col("nn").cast("double") / col("n_t"))) /
            count(lit(1)), 4).as("nll"))
    }),

    // Interpolated BIGRAM-LM perplexity (Jelinek-Mercer, λ=0.75): the
    // upgrade from the unigram stand-in toward CCNet's KenLM grade —
    // nll_d = Σ −ln(λ·c(prev,w)/c(prev,·) + (1−λ)·c(w)/N) / n_bigrams.
    // The unigram back-off is what actually separates boilerplate from
    // prose at corpus scale: repeated sentences score near-zero under the
    // bigram term while rare-word soup stays expensive under both.
    // Engine-exactness: each DISTINCT bigram's score is floored to
    // nano-unit longs in the model table, so the per-doc sum is an
    // order-independent integer sum (the q_sim_ndcg / dsir idiom) — never
    // a fold-order-dependent double sum over hundreds of positions.
    // Shape: ONE bigram stream (checkpointed) feeds the bigram counts,
    // the prefix counts, and the scoring join; the scoring join is
    // (prev, w)-keyed and data-scaled (vocab² too big to broadcast at
    // 100 TB); only the 1-row corpus total broadcasts.
    "q_perplexity_bigram" -> ((s, dir) => {
      val lt = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 2)
      val pairs = transform(slice(col("l"), lit(1), size(col("l")) - 1),
        (x, i) => struct(x.as("prev"),
          element_at(col("l"), i + lit(2)).as("w")))
      val bg = lt.select(col("doc_id"), explode(pairs).as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w"))
        .localCheckpoint()
      val nbg = bg.groupBy(col("prev"), col("w"))
        .agg(count(lit(1)).as("nbg"))
      val npv = bg.groupBy(col("prev")).agg(count(lit(1)).as("nprev"))
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .localCheckpoint()
      val nwt = toks.groupBy(col("tok")).agg(count(lit(1)).as("nw"))
      val total = toks.agg(count(lit(1)).as("nn"))
      val model = nbg.join(npv, "prev")
        .join(nwt, col("w") === col("tok"))
        .crossJoin(broadcast(total))
        .select(col("prev"), col("w"),
          floor(-log(lit(0.75) * col("nbg").cast("double") / col("nprev") +
              lit(0.25) * col("nw").cast("double") / col("nn")) *
            lit(1e9) + lit(0.5)).cast("long").as("s_nano"))
      bg.join(model, Seq("prev", "w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("s_nano")).cast("double") / lit(1e9) /
            count(lit(1)), 4).as("nll_jm"))
    }),

    // Kneser-Ney smoothed bigram NLL (Kneser & Ney 1995; absolute
    // discounting D=0.75 with a CONTINUATION-count unigram back-off — the
    // smoothing family KenLM implements, i.e. the CCNet filter grade):
    // P(w|v) = (c(v,w)−D)/c(v·) + (D·N1+(v·)/c(v·))·(N1+(·w)/T), where
    // N1+ are distinct-context counts and T the bigram type total. Only
    // observed bigrams are scored (c ≥ 1 > D, so the max(·,0) clamp is
    // vacuous), mirroring q_perplexity_bigram's JM scoring exactly — the
    // two rows differ ONLY in the smoother, so the effect of the method
    // is one ledger diff. All model terms are per-TYPE nano-unit longs
    // (one float ln per bigram TYPE, integer sums per doc) — the
    // JM/BM25/nDCG fold-order discipline. The continuation counts are
    // aggregates OF the nbg type table, not a second corpus scan.
    "q_perplexity_kn" -> ((s, dir) => {
      val lt = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .filter(size(col("l")) >= 2)
      val pairs = transform(slice(col("l"), lit(1), size(col("l")) - 1),
        (x, i) => struct(x.as("prev"),
          element_at(col("l"), i + lit(2)).as("w")))
      val bg = lt.select(col("doc_id"), explode(pairs).as("p"))
        .select(col("doc_id"), col("p.prev").as("prev"), col("p.w").as("w"))
        .localCheckpoint()
      val nbg = bg.groupBy(col("prev"), col("w"))
        .agg(count(lit(1)).as("nbg")).localCheckpoint()
      val npv = bg.groupBy(col("prev")).agg(count(lit(1)).as("nprev"))
      val ncont = nbg.groupBy(col("prev")).agg(count(lit(1)).as("ncont"))
      val nleft = nbg.groupBy(col("w")).agg(count(lit(1)).as("nleft"))
      val tt = nbg.agg(count(lit(1)).as("tt"))
      val model = nbg.join(npv, "prev").join(ncont, "prev")
        .join(nleft, "w")
        .crossJoin(broadcast(tt))
        .select(col("prev"), col("w"),
          floor(-log(
              (col("nbg").cast("double") - lit(0.75)) / col("nprev") +
                (lit(0.75) * col("ncont") / col("nprev")) *
                (col("nleft").cast("double") / col("tt"))) *
            lit(1e9) + lit(0.5)).cast("long").as("s_nano"))
      bg.join(model, Seq("prev", "w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("s_nano")).cast("double") / lit(1e9) /
            count(lit(1)), 4).as("nll_kn"))
    }),

    // CCNet perplexity BANDING (Wenzek et al. 2020 §4.3): per-language
    // head / middle / tail tertiles by LM score — the selection step the
    // perplexity queries exist to feed (CCNet ships the head+middle bands
    // and drops the tail). Convention here: head = lowest nll under the
    // corpus LM. Engine-exactness: per-TYPE nano-unit token scores →
    // order-independent integer sum per doc → ONE IEEE division for the
    // mean, ranked after round(6) (absorbs the 1-ulp ln drift the family
    // tolerates everywhere) with doc_id tiebreak; band edges are integer
    // compares (3·rn vs n), so both engines cut identically. Scale shape:
    // the token stream stays (doc_id, tok) — lang joins back at per-DOC
    // granularity, never riding the explode; the per-lang ranking window
    // is the oracle-exact form, with per-lang approx_percentile thresholds
    // as the production dial (the q_mad_outliers pattern) once a language
    // outgrows one task's sort.
    "q_perplexity_band" -> ((s, dir) => {
      val perDoc = perplexityPerDoc(s, dir)
      val rankW = Window.partitionBy(col("lang"))
        .orderBy(col("mean6"), col("doc_id"))
      val langW = Window.partitionBy(col("lang"))
      perDoc
        .withColumn("rn", row_number().over(rankW))
        .withColumn("n", count(lit(1)).over(langW))
        .withColumn("band",
          when(col("rn") * 3 <= col("n"), "head")
            .when(col("rn") * 3 <= col("n") * 2, "middle")
            .otherwise("tail"))
        .groupBy(col("lang"), col("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          round(sum(col("sum_nano")).cast("double") / lit(1e9) /
            sum(col("n_tokens")), 4).as("nll"))
    }),

    // The PRODUCTION dial q_perplexity_band's own scaladoc declares: once
    // a language outgrows one task's sort, the per-lang rank window (the
    // oracle-exact tertile cut) swaps for approx_percentile's mergeable
    // sketch — per-lang head/middle edges from ONE hash-agg, NO window
    // (the q_conformal_approx / q_winsorize_approx twinning pattern).
    // The oracle cannot see the sketch; what it CAN see is the contract
    // the sketch must satisfy on the per-doc scores it ran over:
    // accuracy=10000 bounds rank error to n/10000, so each returned
    // edge's rank must land within tol = max(2, n/1000) of its n/3 (and
    // 2n/3) target. Ties make the audit TWO-SIDED over each edge's tie
    // group (mean6 is a round-6 double — collisions happen): pass iff
    // count(mean6 < edge) ≤ target + tol AND count(mean6 ≤ edge) ≥
    // target − tol, every bound integer cross-multiplied (×3 clears the
    // tertile, ×1000 the tolerance) — no IEEE division anywhere in the
    // verdict; the exact per-lang doc count rides as the oracle row.
    "q_perplexity_band_approx" -> ((s, dir) => {
      val perDoc = perplexityPerDoc(s, dir)
        .localCheckpoint() // feeds the sketch agg AND the rank audit
      val edges = perDoc.groupBy(col("lang"))
        .agg(percentile_approx(col("mean6"), lit(1.0 / 3), lit(10000))
            .as("t1"),
          percentile_approx(col("mean6"), lit(2.0 / 3), lit(10000))
            .as("t2"))
      def contract(lt: Column, le: Column, mulT: Int): Column = {
        val n = col("n_docs")
        val tol3k = greatest(lit(6000L), n * 3) // 3000 × tol
        ((lt * 3 - n * mulT) * 1000 <= tol3k) &&
          ((n * mulT - le * 3) * 1000 <= tol3k)
      }
      perDoc.join(broadcast(edges), "lang")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count_if(col("mean6") < col("t1")).as("r1_lt"),
          count_if(col("mean6") <= col("t1")).as("r1_le"),
          count_if(col("mean6") < col("t2")).as("r2_lt"),
          count_if(col("mean6") <= col("t2")).as("r2_le"))
        .select(col("lang"), col("n_docs"),
          (contract(col("r1_lt"), col("r1_le"), 1) &&
            contract(col("r2_lt"), col("r2_le"), 2)).as("rank_ok"))
    }),

    // Pointwise mutual information between the two document facets
    // (lang × source): PMI = ln(n·N / (n_lang·n_source)) per cell — the
    // association scan that flags a source feeding one language its
    // boilerplate. The joint table is |langs|×|sources| (tiny), so the
    // marginals are broadcast joins back onto it; all counts stay exact
    // longs until the final ln. One corpus scan total.
    "q_mutual_info" -> ((s, dir) => {
      val joint = t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      val byLang = joint.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
      val bySource = joint.groupBy(col("source"))
        .agg(sum(col("n")).as("n_source"))
      val total = joint.agg(sum(col("n")).as("n_total"))
      joint.join(broadcast(byLang), "lang")
        .join(broadcast(bySource), "source")
        .crossJoin(broadcast(total))
        .select(col("lang"), col("source"), col("n"),
          round(log(col("n").cast("double") * col("n_total") /
            (col("n_lang") * col("n_source"))), 4).as("pmi"))
    }),

    // Sequence packing: concatenate each language's token stream in
    // deterministic doc_id order and chunk it into 2048-token context
    // windows — a doc lands in the bin where its first token falls (the
    // stream-concat-then-chunk packing a pretraining loader performs).
    // One window partitioned by lang (data-scaled key) + one small agg;
    // at 100 TB the per-lang streams pack in parallel, and a finer
    // partition key (lang, shard) bounds any one partition's length.
    "q_pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          Text.nTokens(col("text")).as("n_tokens"))
        .withColumn("bin",
          floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / 2048.0))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"))
    }),

    // TF-IDF top terms per document — the classic relevance/keyword
    // extraction pass. tf is one explode + hash-agg; df is a second agg
    // over the (doc, token) pairs; N arrives as a broadcast 1-row
    // aggregate (never a driver-side count). The per-doc top-3 ranks on
    // the ROUNDED score (+ token tiebreak) so rank order is bit-stable
    // across engines. tf feeds two consumers → localCheckpoint (persist
    // on a cluster), same policy as the minhash family.
    "q_tfidf_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      val nDf = docs.agg(count(lit(1)).as("n_corpus"))
      val scored = tf.join(df, "token").crossJoin(broadcast(nDf))
        .withColumn("score", round(col("tf") *
          log((col("n_corpus") + 1).cast("double") / (col("df") + 1)), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token").asc)
      scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("doc_id", "token", "score", "rn")
    }),

    // DSIR data selection (Xie et al. 2023 "Data Selection for Language
    // Models via Importance Resampling"): score every raw-pool document by
    // how target-like its hashed-bigram distribution is. Target = the
    // curated source (src18), pool = everything else; features are bigram
    // md5 buckets (B=64), both class histograms Laplace-smoothed; a doc's
    // weight is its MEAN per-bigram log-likelihood ratio ln p_t/p_r (the
    // length normalization keeps long docs from dominating). Shape: ONE
    // bigram→bucket stream (codegen'd md5, checkpointed) feeds both
    // histograms and the scoring join; the ratio table is ≤64 rows →
    // broadcast; the only data-scaled shuffle is the per-doc aggregation.
    "q_dsir_weights" -> ((s, dir) => dsirScores(s, dir)),

    // The selection step: top-50 pool docs by DSIR weight. Deterministic
    // top-k on the ROUNDED weight (+ doc_id tiebreak) replaces the paper's
    // Gumbel-noise resampling so engines agree bit-for-bit;
    // TakeOrderedAndProject, no global sort.
    "q_dsir_selected" -> ((s, dir) =>
      dsirScores(s, dir)
        .orderBy(col("dsir_w").desc, col("doc_id"))
        .limit(50)
        .select("doc_id", "dsir_w")),

    // BM25 retrieval (Robertson-Spärck Jones, k1=1.2 b=0.75) for a fixed
    // 3-term query — the lexical-retrieval twin of the ANN family (a RAG
    // stack runs both and fuses; q_hybrid_rrf is that fusion). The term
    // filter lands BEFORE the tf aggregation, so the shuffle carries only
    // query-term postings (O(docs × |q|), not the full token stream); df
    // and the corpus length stats are tiny aggs broadcast back. avgdl is
    // one exact long-by-long IEEE division, identical across engines.
    // Top-10 FIRST (TakeOrderedAndProject — per-partition heaps, no
    // global sort), THEN the rank window runs over just 10 rows.
    "q_bm25_topk" -> ((s, dir) =>
      rankTop(bm25Scores(s, dir), "score", 10)),

    // Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    // Lafferty 2001) — the language-modeling arm of the retrieval family
    // beside BM25's probabilistic one: score(Q,D) = Σ_q ln((tf_qD +
    // μ·cf_q/|C|) / (dl_D + μ)), μ = 2000 (the published default).
    // Smoothing defines the score over EVERY doc, so the corpus pays a
    // broadcast cross join against the 3-term query (3n rows, linear)
    // with observed tfs left-joined on; per-term scores floor to exact
    // micro-units before the order-free per-doc integer sum (the BM25
    // idiom). A query term absent from the whole corpus would send every
    // doc to ln 0 identically: the cf inner join drops it, shifting all
    // scores by the same constant — ranking unchanged, scores finite.
    "q_retrieval_ql" -> ((s, dir) => rankTop(qlScores(s, dir), "score",
      10)),

    // Sequence-packing AUDIT — the layout-cost companion to
    // q_pack_sequences (which reports per-bin membership): same
    // concat-and-chunk packing, here priced per shard — total tokens,
    // chunk count, padding waste in the final chunk, and how many
    // documents straddle a chunk boundary (the rows an attention mask
    // must separate, the number cross-document-attention ablations gate
    // on). Exact integer token offsets off ONE lang-partitioned
    // cumulative window (a doc's span is [cum−n, cum−1]; its chunks are
    // the floor-divided endpoints) — O(docs) total, shards run in
    // parallel, and at 100 TB the shard key just gets finer
    // (lang × source) to keep partitions bounded.
    "q_pack_chunks" -> ((s, dir) => {
      val C = 512L
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          Text.nTokens(col("text")).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .withColumn("first_chunk", expr(s"(cum - n) div $C"))
        .withColumn("last_chunk", expr(s"(cum - 1) div $C"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("total_tokens"),
          expr(s"(max(cum) + ${C - 1}) div $C").as("n_chunks"),
          sum(when(col("first_chunk") =!= col("last_chunk"), 1L)
            .otherwise(0L)).as("n_boundary_docs"))
        .withColumn("waste_tokens",
          col("n_chunks") * C - col("total_tokens"))
    }),

    // MMR diversified re-ranking (Carbonell & Goldstein 1998): the
    // serving-side stage of the retrieval family — from the BM25 top-20,
    // greedily pick 5 maximizing λ·relevance − (1−λ)·max-sim-to-selected
    // (λ = 0.7), the dedup-at-serving move that keeps a result list from
    // collapsing onto near-identical docs. Selection arithmetic is exact
    // longs: relevance normalized to nano-units by integer division,
    // similarities floor-scaled from the 6dp-rounded cosine, λ as the
    // integer pair 7/3, ties on doc_id. The candidate set is ≤20 BY
    // CONSTRUCTION at any corpus scale, so the greedy runs over
    // collected rows (the kmeans/BPE bounded-driver-state precedent);
    // everything upstream — BM25, norms, the 20×20 sim table — is
    // distributed. The oracle unrolls the 5 rounds in SQL.
    "q_mmr_rerank" -> ((s, dir) => {
      import s.implicits._
      val cand = rankTop(bm25Scores(s, dir), "score", 20)
        .select(col("doc_id"),
          floor(col("score") * 1e6 + 0.5).cast("long").as("rel_micro"))
        .localCheckpoint()
      val rn = cand
        .crossJoin(broadcast(cand.agg(max(col("rel_micro")).as("mr"))))
        .select(col("doc_id"),
          expr("rel_micro * 1000000000L div mr").as("rn"))
      val c = Similarity.withNorm(t(s, dir, "embeddings"), "vec_id",
          "embedding")
        .join(cand.select(col("doc_id").as("vec_id")), "vec_id")
        .localCheckpoint()
      val av = c.select(col("vec_id").as("da"), col("v").as("va"),
        col("nrm").as("na"))
      val bv = c.select(col("vec_id").as("db"), col("v").as("vb"),
        col("nrm").as("nb"))
      val sims = av.join(bv, col("da") =!= col("db"))
        .select(col("da"), col("db"),
          floor(round(Similarity.dot(col("va"), col("vb")) /
            (col("na") * col("nb")), 6) * 1e9 + 0.5).cast("long")
            .as("sim_nano"))
      val relMap = rn.collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      val simMap = sims.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      var selected = Vector.empty[(Long, Long)]
      var remaining = relMap.keySet
      // Missing-vector contract: a candidate with no embeddings row has
      // no (d, selected) sim entry; getOrElse(0L) treats it as maximally
      // dissimilar (no diversity penalty), and the SQL twin's scalar
      // subquery COALESCEs its empty-set NULL to 0 so both engines apply
      // the same rule instead of DuckDB's NULL sorting the doc out of
      // contention.
      for (_ <- 1 to 5 if remaining.nonEmpty) {
        val scored = remaining.toSeq.map { d =>
          val ms =
            if (selected.isEmpty) 0L
            else selected.map(sd => simMap.getOrElse((d, sd._1), 0L)).max
          (d, 7L * relMap(d) - 3L * ms)
        }
        val pick = scored.minBy { case (d, sc) => (-sc, d) }
        selected :+= pick
        remaining -= pick._1
      }
      selected.zipWithIndex
        .map { case ((d, sc), i) => (i + 1L, d, sc) }
        .toDF("rank", "doc_id", "mmr_nano")
    }),

    // RM3 pseudo-relevance feedback (Lavrenko & Croft 2001; Abdul-Jaleel
    // et al. 2004): the expansion-term table itself — top-3 non-query
    // tokens by total occurrences in the first-pass top-5 docs. Uniform
    // feedback-document priors instead of RM1's score-weighted term
    // distribution keep every weight an exact integer (the engine's
    // determinism discipline); ranked (count desc, token), so the LIMIT
    // order is total.
    "q_rm3_terms" -> ((s, dir) => rm3Expansion(s, dir)),

    // The expanded second pass: BM25 over Q ∪ expansion with expansion
    // contributions integer-halved (λ = 0.5 interpolation as `div 2` on
    // the micro-unit term scores — order-free exact sums end to end).
    // The feedback loop costs one extra corpus tf pass; the expansion
    // table rides as a 6-row broadcast.
    "q_bm25_rm3" -> ((s, dir) => {
      import s.implicits._
      val terms = bm25Terms.toDF("token").withColumn("wdiv", lit(1L))
        .unionByName(rm3Expansion(s, dir)
          .select(col("token"), lit(2L).as("wdiv")))
      rankTop(bm25ScoresWith(s, dir, terms), "score", 10)
    }),

    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009):
    // the lexical arm (BM25 top-20) and the dense arm (cosine top-20 to
    // the query doc's embedding, vec_id=doc_id fixture contract) fused by
    // rrf = Σ_arms 1/(60 + rank). Each arm ranks AFTER its own top-k
    // limit; the fusion joins two ≤20-row sets, so everything after the
    // arms is driver-trivial. The fused score is summed in exact
    // nano-units (1e9/(60+r) per arm, floored to a long) — an
    // order-independent integer sum, same engine-divergence-proofing as
    // the BM25 score itself.
    "q_hybrid_rrf" -> ((s, dir) => {
      val lex = rankTop(bm25Scores(s, dir), "score", 20)
        .select(col("doc_id"), col("rank").as("lex_rank"))
      val c = Similarity.withNorm(t(s, dir, "embeddings"), "vec_id",
        "embedding")
      val q0 = c.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val denseScores = c.crossJoin(broadcast(q0))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          round(Similarity.dot(col("v"), col("qv")) /
            (col("nrm") * col("qn")), 6).as("score"))
      val dense = rankTop(denseScores, "score", 20)
        .select(col("doc_id"), col("rank").as("dense_rank"))
      def arm(rank: Column): Column =
        coalesce(floor(lit(1e9) / (rank + 60)), lit(0L))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_nano", arm(col("lex_rank")) + arm(col("dense_rank")))
        .orderBy(col("rrf_nano").desc, col("doc_id")).limit(10)
        .select("doc_id", "rrf_nano", "lex_rank", "dense_rank")
    }),

    // Deterministic pseudo-random sample: top-k by content-independent hash
    // — reproducible across engines/runs, TakeOrderedAndProject (no global
    // sort), and stable under repartitioning, unlike rand()-based sampling.
    "q_sample_det" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("sample:"), col("doc_id").cast("string")))
            .as("sk"))
        .orderBy(col("sk"), col("doc_id"))
        .limit(50)
        .select("doc_id")),

    // Train/val/test split assignment by hash bucket (90/5/5): the
    // deterministic split a training pipeline needs — membership depends
    // only on the id, never on row order or partitioning.
    "q_split_assign" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), splitCol(col("doc_id")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))),

    // Per-stratum exemplar sample: the first k docs per language in pure
    // id-hash order — the "pull N examples per slice" op an eval or
    // inspection pass needs, reproducible across engines/runs/partitions
    // because the order key is content-independent. The ranking window
    // partitions by the stratum (data-scaled), and the hash order makes
    // the pick unbiased w.r.t. ingestion order.
    "q_sample_per_group" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("sk"), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          md5(concat(lit("pg:"), col("doc_id").cast("string"))).as("sk"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("lang"), col("rn"), col("doc_id"))
    }),

    // Weighted priority sample (Duffield-Lund-Thorup): top-k by
    // priority w/u with u uniform from the id hash — inclusion odds scale
    // with the weight (here n_chars: long docs count for more), yet
    // membership is a pure function of (id, weight), reproducible across
    // engines/runs/partitions. The priority is ONE correctly-rounded
    // IEEE division of exactly-represented integers (48-bit hash, long
    // weight), so Spark and DuckDB compute bit-identical keys — no
    // transcendentals (the classic u^(1/w) form would hit libm drift).
    // TakeOrderedAndProject: per-partition heaps, no global sort.
    "q_sample_weighted" -> ((s, dir) => {
      val u = conv(substring(md5(concat(lit("ws:"),
          col("doc_id").cast("string"))), 1, 12), 16, 10)
        .cast("long") + lit(1L)
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (col("n_chars").cast("double") / u.cast("double")).as("pri"))
        .orderBy(col("pri").desc, col("doc_id"))
        .limit(50)
        .select("doc_id", "n_chars")
    }),

    // Corpus rebalancing: deterministic per-stratum downsampling (cap the
    // dominant language at 20%, keep the rest whole). Membership is a pure
    // (stratum, id) hash — stable under row order, partitioning, and
    // corpus growth. One codegen'd predicate over the scan, zero shuffle.
    "q_sample_stratified" -> ((s, dir) =>
      t(s, dir, "documents")
        .filter(stratifiedKeep(col("doc_id"), col("lang"),
          Map("en" -> 20), defaultPct = 100))
        .select(col("doc_id"), col("lang"))),

    // Data-mixture application: reweight SOURCES to an equal token budget
    // (the static mixture step a pretraining run applies after choosing
    // weights). Per-source keep-rate in WHOLE PERCENT via exact integer
    // arithmetic — (100·total) div (k·src_toks), never floats, so both
    // engines compute the identical rate — then membership is the usual
    // pure (source, id) hash: order/partition/growth-stable. Costs two
    // passes over a 3-column projection (one tiny agg + one filtered agg);
    // the projection is checkpointed so the text tokenization runs once.
    "q_mixture_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.nTokens(col("text")).as("nt"))
        .localCheckpoint()
      val bySource = docs.groupBy(col("source"))
        .agg(sum(col("nt")).as("src_toks"))
      val totals = bySource.agg(sum(col("src_toks")).as("tot_toks"),
        count(lit(1)).as("k"))
      val weights = bySource.crossJoin(broadcast(totals))
        .select(col("source"), least(lit(100L),
          expr("(100 * tot_toks) DIV (k * src_toks)")).as("w_pct"))
      docs.join(broadcast(weights), "source")
        .filter(hashBucket(concat(lit("mix:"), col("source"), lit(":"),
          col("doc_id").cast("string"))) < col("w_pct"))
        .groupBy(col("source"), col("w_pct"))
        .agg(count(lit(1)).as("n_kept"), sum(col("nt")).as("toks_kept"))
    }),

    // UniMax mixture allocation (Chung et al. 2023): distribute a token
    // budget UNIFORMLY across sources, capped at each source's available
    // tokens (1 epoch — the paper's anti-repetition principle; the epoch
    // cap is the dial). Exact integer water-filling in closed form:
    // sources sorted by availability, everything below the water level is
    // taken whole, the first BINDING source fixes the level
    // θ = (budget − cum_prev) DIV (remaining sources), everyone at or
    // above gets θ. All longs — no float aggregation anywhere, so both
    // engines produce identical allocations. Windows run over |sources|
    // rows (the marginals table, never the corpus); budget = half the
    // corpus tokens, derived by exact integer division.
    "q_mixture_unimax" -> ((s, dir) => {
      val bySource = t(s, dir, "documents")
        .select(col("source"), Text.nTokens(col("text")).as("nt"))
        .groupBy(col("source")).agg(sum(col("nt")).as("avail"))
      val tot = bySource.agg(sum(col("avail")).as("total"),
        count(lit(1)).as("l"))
      val w = Window.orderBy(col("avail").asc, col("source").asc)
      val ranked = bySource.crossJoin(broadcast(tot))
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("cum_prev", coalesce(sum(col("avail")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("budget", expr("total DIV 2"))
        .withColumn("bind", col("avail") * (col("l") - col("r") + 1) >
          (col("budget") - col("cum_prev")))
      // min(struct) picks the lowest-rank binding row; on an over-large
      // budget (nothing binds) the aggregate yields one NULL row and the
      // fallback arm allocates every source whole — never an empty join.
      val theta = ranked.filter(col("bind"))
        .agg(min(struct(col("r").as("r"),
          expr("(budget - cum_prev) DIV (l - r + 1)").as("theta")))
          .as("k"))
        .select(col("k.r").as("bind_r"), col("k.theta").as("theta"))
      ranked.crossJoin(broadcast(theta))
        .select(col("source"), col("avail").as("n_toks"),
          when(col("bind_r").isNull || col("r") < col("bind_r"),
            col("avail"))
            .otherwise(least(col("avail"), col("theta")))
            .as("alloc_toks"))
        .withColumn("rate",
          round(col("alloc_toks").cast("double") / col("n_toks"), 4))
        .withColumn("capped", col("alloc_toks") < col("n_toks"))
    }),

    // Quality-filter funnel (Gopher-style doc thresholds) with
    // OBSERVABILITY: every document gets its first failing rule as a
    // reject reason, aggregated per (lang, reason) — the report a corpus
    // curation run ships alongside the filtered output. One projection +
    // one small agg; the rules are plain column arithmetic, so the whole
    // funnel stays inside whole-stage codegen.
    "q_quality_filter" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nt = size(toks).cast("double")
      val ndist = size(array_distinct(toks)).cast("double")
      val avgLen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nt
      val reason = when(nt < 30, "too_short")
        .when(nt > 400, "too_long")
        .when(ndist / nt < 0.2, "low_diversity")
        .when(avgLen < 2 || avgLen > 12, "weird_tokens")
        .otherwise("keep")
      t(s, dir, "documents")
        .select(col("lang"), reason.as("reason"))
        .groupBy(col("lang"), col("reason"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // The Gopher quality rules (Rae et al. 2021, Appendix A), word-level
    // subset — the fixture's documents are single-line, so the line-shape
    // rules (bullet/ellipsis line ratios) are vacuously true and omitted
    // rather than faked: word count in [50, 100000], mean word length in
    // [3, 10], ≥80% of words containing an alphabetic character,
    // symbol-to-word ratio (# and …) ≤ 0.1 each, and ≥2 distinct members
    // of the Gopher stop-word set {the, be, to, of, and, that, have,
    // with}. One projection pass, no explode (the stop-word test is an
    // array_intersect over the distinct token set); every rule is a
    // single IEEE division or integer compare, so both engines decide
    // each boolean identically — no rounding in the gate itself.
    "q_quality_gopher" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nW = size(toks).cast("long")
      val meanLen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nW
      val nAlpha = size(filter(toks,
        tk => tk.rlike("[a-zA-Z]"))).cast("long")
      val nHash = (length(col("text")) -
        length(regexp_replace(col("text"), "#", ""))).cast("long")
      val nEll = ((length(col("text")) -
        length(replace(col("text"), lit("..."), lit("")))) / lit(3))
        .cast("long")
      val stopSet = array(Seq("the", "be", "to", "of", "and", "that",
        "have", "with").map(lit): _*)
      val nStop = size(array_intersect(array_distinct(toks), stopSet))
        .cast("long")
      val rWc = nW >= 50L && nW <= 100000L
      val rMean = meanLen >= 3.0 && meanLen <= 10.0
      val rAlpha = nAlpha.cast("double") / nW >= 0.8
      val rSym = nHash.cast("double") / nW <= 0.1 &&
        nEll.cast("double") / nW <= 0.1
      val rStop = nStop >= 2L
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"), nW.as("n_words"),
        round(meanLen, 4).as("mean_word_len"), nStop.as("n_stop"),
        rWc.as("r_word_count"), rMean.as("r_mean_len"),
        rAlpha.as("r_alpha"), rSym.as("r_symbol"), rStop.as("r_stop"),
        (rWc && rMean && rAlpha && rSym && rStop).as("keep"))
    }),

    // The Gopher LINE-shape rules the word-level row omits (Rae et al.
    // 2021, Appendix A): fraction of duplicate lines ≤ 0.30, fraction of
    // characters in duplicate lines ≤ 0.20, and the same pair at
    // paragraph granularity, over the [[synthLines]] structure. Dup
    // volume is a pure identity over value multiplicity — n_dup =
    // n − |distinct|, dup_chars = Σlen − Σlen(distinct) — so every count
    // is an array HOF and the whole query is ONE projection: zero
    // shuffle, zero explode, trivially linear at 100 TB. The gate
    // booleans are integer cross-multiplications (n_dup·10 ≤ n·3,
    // dup_chars·5 ≤ chars), so both engines decide identically; the
    // rounded fractions ride along as report columns.
    "q_quality_gopher_lines" -> ((s, dir) => {
      def dupStats(arr: Column, prefix: String): Seq[Column] = {
        val n = size(arr).cast("long")
        val nDup = (size(arr) - size(array_distinct(arr))).cast("long")
        val chars = aggregate(arr, lit(0L), (a, x) => a + length(x))
        val dupChars = chars -
          aggregate(array_distinct(arr), lit(0L), (a, x) => a + length(x))
        Seq(n.as(s"n_$prefix"), nDup.as(s"n_dup_$prefix"),
          dupChars.as(s"dup_${prefix}_chars"),
          round(nDup.cast("double") / n, 4).as(s"dup_${prefix}_frac"),
          (nDup * 10 <= n * 3).as(s"r_dup_$prefix"),
          (dupChars * 5 <= chars).as(s"r_dup_${prefix}_chars"))
      }
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          synthLines(col("doc_id"), col("text")).as("lines"))
        .withColumn("paras", synthParas(col("lines")))
        .select(Seq(col("doc_id"), col("lang")) ++
          dupStats(col("lines"), "lines") ++
          dupStats(col("paras"), "paras"): _*)
        .withColumn("keep", col("r_dup_lines") && col("r_dup_lines_chars")
          && col("r_dup_paras") && col("r_dup_paras_chars"))
    }),

    // C4's line filters (Raffel et al. 2020 §2.2) over the same
    // [[synthLines]] structure: a line is kept iff it ends in terminal
    // punctuation (. ! ? "), has ≥ 3 words, and carries no
    // javascript/cookie policy boilerplate; the page is kept iff ≥ 5
    // lines survive (the "at least 5 sentences" page rule at this
    // corpus's sentence==line granularity) and the page contains neither
    // "lorem ipsum" nor a curly brace. Counts per rule ride along so the
    // report localizes WHY a page dropped. Same scale shape as the
    // Gopher row: one projection, all HOFs, zero shuffle.
    "q_quality_c4" -> ((s, dir) => {
      def last(l: Column) = substring(l, -1, 1)
      def isPolicy(l: Column) =
        instr(l, "javascript") > 0 || instr(l, "cookie") > 0
      def keptLine(l: Column) =
        last(l).isin(".", "!", "?", "\"") &&
          size(split(l, " ")) >= 3 && !isPolicy(l)
      val lines = col("lines")
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          synthLines(col("doc_id"), col("text")).as("lines"))
        .select(col("doc_id"), col("lang"),
          size(lines).cast("long").as("n_lines"),
          size(filter(lines, l => !last(l).isin(".", "!", "?", "\"")))
            .cast("long").as("n_unpunct_lines"),
          size(filter(lines, l => size(split(l, " ")) < 3)).cast("long")
            .as("n_short_lines"),
          size(filter(lines, l => isPolicy(l))).cast("long")
            .as("n_policy_lines"),
          size(filter(lines, l => keptLine(l))).cast("long")
            .as("n_kept_lines"),
          (size(filter(lines, l => instr(l, "lorem ipsum") > 0)) > 0)
            .as("has_lorem"),
          (size(filter(lines, l => instr(l, "{") > 0)) > 0).as("has_brace"))
        .withColumn("keep_page",
          col("n_kept_lines") >= 5 && !col("has_lorem") && !col("has_brace"))
    }),

    // Classifier-based quality filtering (the GPT-3 Appendix-A /
    // CCNet-lineage move: train a cheap linear classifier on weak labels,
    // score the corpus): multinomial Naive Bayes with add-one smoothing
    // over whitespace unigrams, trained DISTRIBUTEDLY on the
    // deterministic hash-split's train docs with the heuristic rule
    // verdict as the weak label, scored on held-out. Every per-type
    // log-likelihood-ratio weight is floored to a nano-unit long in the
    // vocabulary-sized model table (the per-TYPE discipline of
    // q_perplexity's model), so a document's score is an exact integer
    // sum — order-free across partitionings and engines. Scale shape:
    // ONE corpus pass for token counts (map-side combine), model table
    // vocab-sized and broadcast into the scoring join, scoring is one
    // explode→left-join→hash-agg over the held-out split.
    "q_nb_scores" -> ((s, dir) =>
      nbScored(s, dir).select(col("doc_id"), col("n_tokens"),
        col("n_oov"), col("score_nano"),
        (col("score_nano") > 0).as("predicted"))),

    // Held-out confusion against the weak labels: TP/FP/FN/TN cells in
    // one pass, then accuracy / precision / recall / F1 each as a SINGLE
    // IEEE division of exact integers (F1 via 2·tp/(2·tp+fp+fn) — one
    // division, no composition of rounded intermediates), rounded to 4.
    "q_nb_eval" -> ((s, dir) => {
      val sc = nbScored(s, dir)
        .select((col("score_nano") > 0).as("p"), col("actual_pos").as("a"))
      def cell(c: Column) = sum(when(c, 1L).otherwise(0L))
      val agg = sc.agg(
        cell(col("p") && col("a")).as("n_tp"),
        cell(col("p") && !col("a")).as("n_fp"),
        cell(!col("p") && col("a")).as("n_fn"),
        cell(!col("p") && !col("a")).as("n_tn"))
      def ratio(num: Column, den: Column) =
        when(den > 0, round(num.cast("double") / den, 4)).otherwise(0.0)
      agg.select(col("n_tp"), col("n_fp"), col("n_fn"), col("n_tn"),
        ratio(col("n_tp") + col("n_tn"),
          col("n_tp") + col("n_tn") + col("n_fp") + col("n_fn"))
          .as("accuracy"),
        ratio(col("n_tp"), col("n_tp") + col("n_fp")).as("prec"),
        ratio(col("n_tp"), col("n_tp") + col("n_fn")).as("rec"),
        ratio(col("n_tp") * 2, col("n_tp") * 2 + col("n_fp") +
          col("n_fn")).as("f1"))
    }),

    // Calibration audit of the classifier: held-out docs banded by
    // half-unit score floors (floor of an IEEE division — NOT integer
    // `div`, whose toward-zero truncation disagrees with DuckDB's floor
    // `//` on negative scores), each band's empirical positive rate as
    // one exact division rounded 4 — the reliability-diagram table; a
    // well-ordered classifier's rate should climb with the band.
    "q_nb_calibration" -> ((s, dir) =>
      nbScored(s, dir)
        .groupBy(floor(col("score_nano") / lit(5.0e8)).cast("long")
          .as("band"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("actual_pos"), 1L).otherwise(0L)).as("n_pos"))
        .withColumn("pos_rate",
          round(col("n_pos").cast("double") / col("n_docs"), 4))),

    // ROC-AUC of the quality classifier per language — the
    // threshold-free companion to q_nb_eval's fixed-threshold confusion:
    // AUC == the Mann-Whitney probability a random positive outscores a
    // random negative, computed by the rank identity with MID-ranks for
    // ties (integer scores tie often; a tie-broken row_number would
    // overstate AUC). Everything stays exact longs: per distinct score,
    // 2·midrank = 2·cum_before + n_s + 1, so 2U = Σ_s n_pos_s·(2·cum_b
    // + n_s + 1) − n_pos·(n_pos+1) — one distinct-score hash-agg, one
    // lang-partitioned running window, AUC as a single rounded division.
    "q_nb_auc" -> ((s, dir) => {
      val perScore = nbScored(s, dir)
        .groupBy(col("lang"), col("score_nano"))
        .agg(count(lit(1)).as("ns"),
          sum(when(col("actual_pos"), 1L).otherwise(0L)).as("nps"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score_nano"))
        .rowsBetween(Window.unboundedPreceding, -1)
      perScore
        .withColumn("cumb", coalesce(sum(col("ns")).over(w), lit(0L)))
        .groupBy(col("lang"))
        .agg(sum(col("nps")).as("n_pos"),
          (sum(col("ns")) - sum(col("nps"))).as("n_neg"),
          sum(col("nps") * (col("cumb") * 2 + col("ns") + 1))
            .as("two_mid"))
        .select(col("lang"), col("n_pos"), col("n_neg"),
          when(col("n_pos") > 0 && col("n_neg") > 0,
            round((col("two_mid") - col("n_pos") * (col("n_pos") + 1))
              .cast("double") / (col("n_pos") * col("n_neg") * 2.0), 4))
            .otherwise(lit(null).cast("double")).as("auc"))
    }),

    // χ² feature selection (Yang & Pedersen 1997) over the classifier's
    // train counts: each token type's 2×2 occurrence table (cp, np−cp;
    // cn, nn−cn) scored χ² = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — the
    // model-free ranking of which types SEPARATE the classes, beside
    // q_nb_top_features' model-weight view. Counts stay exact longs
    // into ONE double expression (the (ad−bc)² cross term exceeds 2^63
    // at corpus scale — both engines round the same IEEE products);
    // top-15 on the ROUNDED score with tok tie-break, so the LIMIT
    // order is total.
    "q_chi2_features" -> ((s, dir) => {
      val (wtab, scal) = nbWeights(s, dir)
      val d = wtab.select(col("tok"), col("cp"), col("cn"))
        .crossJoin(broadcast(scal.select(col("np"), col("nn"))))
      val adbc = col("cp").cast("double") * (col("nn") - col("cn"))
        .cast("double") -
        col("cn").cast("double") * (col("np") - col("cp")).cast("double")
      d.withColumn("chi2", round(
          (col("np") + col("nn")).cast("double") * adbc * adbc /
            ((col("cp") + col("cn")).cast("double") *
              (col("np") - col("cp") + col("nn") - col("cn"))
                .cast("double") *
              col("np").cast("double") * col("nn").cast("double")), 4))
        .select(col("tok"), col("cp"), col("cn"), col("chi2"))
        .orderBy(col("chi2").desc, col("tok").asc)
        .limit(15)
    }),

    // The model inspection surface: the 15 most positive- and most
    // negative-indicative token types by nano-unit weight (tok breaks
    // integer ties, so the LIMIT order is total on both engines).
    "q_nb_top_features" -> ((s, dir) => {
      val w = nbWeights(s, dir)._1
        .select(col("tok"), col("cp"), col("cn"), col("w_nano"))
      w.orderBy(col("w_nano").desc, col("tok")).limit(15)
        .withColumn("side", lit("pos"))
        .unionAll(
          w.orderBy(col("w_nano").asc, col("tok")).limit(15)
            .withColumn("side", lit("neg")))
    }),

    // The production composition: MinHash-LSH candidates verified by exact
    // Jaccard on candidates only.
    "q_dedup_minhash_verified" -> ((s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
        0.5)),

    // Pairs → CLUSTERS: connected components (min-label propagation) over
    // the verified near-dup pairs — the form a production dedup emits
    // (keep the min-id representative per cluster, drop the rest).
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          0.5).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")),

    // 2-core of the verified near-dup graph (Batagelj-Zaversnik batch
    // peeling, ext/Graph.kCore): separates docs embedded in CLUSTERED
    // duplication (>= 2 verified neighbors even after the pendant pairs
    // peel away) from docs whose only duplication is one isolated
    // partner — the triage a curation pass reads before deciding whether
    // a cluster representative or the pairwise survivor rule applies.
    // Four synchronous peel rounds, each O(pairs); the oracle unrolls
    // the same rounds over the shared verified-pair CTE chain.
    "q_dedup_kcore" -> ((s, dir) =>
      graft.ext.Graph.kCore(
        Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id",
          "text", 0.5).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b", k = 2, rounds = 4)),

    // The GIANT-DIAMETER twin of q_dedup_clusters: identical labels from
    // the alternating large-star/small-star algorithm (Kiveris et al.
    // 2014) — O(log²) rounds where min-label propagation pays a round per
    // hop of component diameter. Shares q_dedup_clusters' oracle
    // VERBATIM, so its green row is the algorithm-swap-exactness proof
    // (the q_dedup_state_kept pattern); DedupSpec additionally pins the
    // long-chain regime propagation cannot finish.
    "q_dedup_clusters_star" -> ((s, dir) =>
      Dedup.connectedComponentsStar(
        Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          0.5).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")),

    // The dedup ENDPOINT: the kept corpus after dropping every cluster
    // member except its min-id representative — clusters → LEFT ANTI join
    // against the non-representatives, summarized per language. This is
    // the query whose output feeds training.
    "q_dedup_kept" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dropIds = Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
        .filter(col("doc_id") =!= col("cluster_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
    }),

    // The MATERIALIZED-STATE twin of q_dedup_kept: Pipeline.writeDedupState
    // persists bands/pairs/clusters ONCE, and the kept report reads the
    // cluster TABLE — the production layout where the chain runs once and
    // every report (kept/kept_best/savings/splits) is a cheap read. The
    // oracle is IDENTICAL to q_dedup_kept's, so a green row here IS the
    // proof that state-read == recompute. Scratch-cached per fixture dir
    // (the endpoint builds state once; reports re-read it).
    "q_dedup_state_kept" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val state = dedupStateDir(s, dir)
      // Explicit schema: lawful read even when the corpus has no near-dup
      // pairs (zero part files to infer from).
      val clusterSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("cluster_id", "long")
      val dropIds = s.read.schema(clusterSchema).parquet(s"$state/clusters")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
    }),

    // The INCREMENTAL twin of q_dedup_state_kept: state built from HALF
    // the corpus (even ids) then folded forward with the other half via
    // Pipeline.updateDedupState — candidates O(batch × bands), verify
    // touching only batch-adjacent shingles, no corpus rescan. The oracle
    // is q_dedup_kept's VERBATIM (whole-corpus recompute), so a green row
    // proves build-then-update == full recompute end to end.
    "q_dedup_state_incr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val state = dedupStateIncrDir(s, dir)
      val clusterSchema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("cluster_id", "long")
      val dropIds = s.read.schema(clusterSchema).parquet(s"$state/clusters")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select("doc_id")
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
    }),

    // Dedup ROI report: what the near-dup sweep actually SAVED, per
    // source — doc and char volumes dropped (non-representative cluster
    // members) beside the totals, with the drop rate. The number that
    // decides whether a 100 TB dedup pass pays for itself, and the
    // per-source view that localizes where duplication concentrates.
    // Same cluster derivation as q_dedup_kept; one extra corpus-keyed
    // LEFT join + hash-agg.
    "q_dedup_savings" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dropIds = Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"), lit(1L).as("dropped"))
      docs.join(dropIds, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count_if(col("dropped").isNotNull).as("n_dropped"),
          sum(col("n_chars")).as("chars_total"),
          sum(when(col("dropped").isNotNull, col("n_chars")).otherwise(0L))
            .as("chars_dropped"))
        .withColumn("drop_rate",
          round(col("n_dropped").cast("double") / col("n_docs"), 4))
    }),

    // SOFT dedup (the reweighting alternative to dropping — SlimPajama/
    // "soft deduplication" lineage): every cluster member survives but
    // carries training weight 1/|cluster|, so each distinct content unit
    // contributes total weight exactly 1 regardless of how many copies
    // syndication produced. The report a sampler consumes: per source,
    // raw vs EFFECTIVE volumes (docs and chars) under the reweighting —
    // the gap IS the duplication tax. Engine-exactness: weights are pure
    // integer divisions (1e9 div k nano-units; chars·1e6 div k micro-
    // units), so per-source sums are order-independent integer sums with
    // one shared division at the end — no float 1/k accumulation. Same
    // cluster derivation as q_dedup_kept; one size agg + LEFT join on top.
    "q_dedup_soft" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("k"))
      val weights = clusters.join(sizes, "cluster_id")
        .select(col("doc_id"), col("k"))
      docs.join(weights, Seq("doc_id"), "left")
        .withColumn("k", coalesce(col("k"), lit(1L)))
        .withColumn("w_nano", expr("1000000000 div k"))
        .withColumn("cw_micro", expr("(n_chars * 1000000) div k"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("w_nano")).cast("double") / lit(1e9), 4)
            .as("eff_docs"),
          sum(col("n_chars")).as("chars_total"),
          round(sum(col("cw_micro")).cast("double") / lit(1e6), 2)
            .as("eff_chars"))
    }),

    // The curation-policy variant of q_dedup_kept: keep the BEST member of
    // each near-dup cluster (longest doc wins, min id breaks ties) instead
    // of the arbitrary min-id — what a production pipeline actually ships,
    // since near-dups often differ by truncation and the longest copy is
    // the one worth training on. The ranking window partitions by
    // cluster_id (data-scaled key — clusters are small by construction,
    // never a global window).
    "q_dedup_kept_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val dropIds = clusters
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") =!= 1)
        .select("doc_id")
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
    }),

    // LEAKAGE-SAFE SPLITS: train/val/test assignment where the unit is the
    // near-dup CLUSTER, not the document — two near-duplicates can never
    // straddle a split boundary (the leakage that quietly inflates eval
    // scores when splits hash raw doc ids). Every doc's unit is its
    // verified-cluster label (singletons: the doc itself), and the split
    // is the usual pure hash membership over the UNIT id — deterministic,
    // order/partition/growth-stable, zero extra shuffles beyond the
    // clustering itself. The per-doc (unit_id, split) detail makes the
    // invariant visible: one cluster → one split, by construction on both
    // engines.
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(
        Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.5)
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")
      val bucket = hashBucket(
        concat(lit("csplit:"), col("unit_id").cast("string")))
      docs.select(col("doc_id"))
        .join(clusters, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("unit_id"))
        .select(col("doc_id"), col("unit_id"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
    }),

    // Deterministic training-order sharding: every doc gets a shard and a
    // within-shard position from pure id hashes (distinct salts), so the
    // global "shuffle" a training run needs is reproducible across
    // engines, runs, and partitionings — and costs ZERO data movement to
    // ASSIGN (one codegen'd projection; the writer then repartitions by
    // shard and sorts by the position key, which is the one shuffle the
    // output layout requires anyway). Summarized per shard with the
    // order-extreme docs so the oracle checks the ordering, not just
    // membership.
    "q_shard_order" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          (conv(substring(md5(concat(lit("shard:"), id)), 1, 4), 16, 10)
            .cast("long") % 8).as("shard"),
          md5(concat(lit("order:"), id)).as("pos"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          min_by(col("doc_id"), col("pos")).as("first_doc"),
          max_by(col("doc_id"), col("pos")).as("last_doc"))
    }),

    // The WRITTEN training order (Pipeline.writeTrainingOrder): read the
    // sharded, position-sorted corpus layout back and emit every (shard,
    // seq, doc_id, pos) row — the oracle recomputes the same assignment +
    // row_number from the raw table, so a writer that sharded, ordered,
    // or seq-stamped wrongly mismatches row-by-row. q_shard_order proves
    // the ASSIGNMENT; this proves the MATERIALIZATION (SinksSpec pins the
    // physical file order on top).
    "q_shard_manifest" -> ((s, dir) => {
      val docsDf = t(s, dir, "documents")
      val out = Scratch.cached(s"training-order:$dir") { tmp =>
        val o = tmp + "/corpus"
        graft.engine.Pipeline.writeTrainingOrder(docsDf, "doc_id", o)
        o
      }
      // Explicit schema: the input's columns + the writer's stamps (and the
      // shard partition column pinned to long). Skips file-footer schema
      // inference AND keeps the read lawful when the corpus — hence the
      // written layout — is empty (zero part files to infer from).
      val written = docsDf.schema
        .add("pos", "string").add("seq", "long").add("shard", "long")
      s.read.schema(written).parquet(out)
        .select(col("shard"), col("seq"), col("doc_id"), col("pos"))
    }),

    // The CURRICULUM manifest: q_shard_manifest's writer with the
    // curriculum dial set — within each shard, docs stream in ascending
    // TOKEN COUNT first (the short-sequences-first schedule, Shortformer /
    // Press et al. 2021), position hash and id breaking ties so
    // equal-length docs stay shuffled within their level. Same ONE-shuffle
    // write; the oracle replays the full (score, pos, id) sort key per
    // shard, so a wrong order moves every seq below the error.
    "q_shard_curriculum" -> ((s, dir) => {
      val docsDf = t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      val out = Scratch.cached(s"curriculum-order:$dir") { tmp =>
        val o = tmp + "/corpus"
        graft.engine.Pipeline.writeTrainingOrder(docsDf, "doc_id", o,
          curriculumCol = Some("n_tokens"))
        o
      }
      val written = docsDf.schema
        .add("pos", "string").add("seq", "long").add("shard", "long")
      s.read.schema(written).parquet(out)
        .select(col("shard"), col("seq"), col("doc_id"), col("n_tokens"))
    }),

    // Decontamination: near-dup pairs (MinHash-LSH candidates) that CROSS a
    // train/eval split boundary — the canonical "is my eval set leaking
    // into training data" sweep. The split is a pure hash of the id
    // (splitCol), so it is computed directly on the candidate pair ids —
    // no join back to the corpus, no second scan. One corpus pass total.
    "q_decontamination" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("split_a", splitCol(col("doc_a")))
        .withColumn("split_b", splitCol(col("doc_b")))
        .filter(col("split_a") =!= col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")),

    // Exact n-gram decontamination (the GPT-3-style sweep, complementing
    // the LSH one above): a TRAIN doc is contaminated if it shares ANY
    // 5-token shingle with a val/test doc. The eval shingle set is the
    // small side by construction (5-10% of the corpus) — distinct'd once,
    // then an equi-join on the shingle; at 100 TB the planner broadcasts
    // or shuffles it as its measured size dictates. Output is per-doc hit
    // counts, the report a curation run quarantines on.
    "q_decontam_ngram" -> ((s, dir) => {
      // grams feeds two consumers (the eval gram set and the train side)
      // → localCheckpoint, same policy as the minhash family: exchange
      // reuse across re-aliased consumers is unreliable, and the corpus
      // explode is the dominant cost.
      val grams = Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("split", splitCol(col("doc_id")))
        .localCheckpoint()
      val evalGrams = grams.filter(col("split") =!= "train")
        .select(col("shingle")).distinct()
      grams.filter(col("split") === "train")
        .join(evalGrams, "shingle")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_hit_grams"))
    }),

    // The REMOVAL endpoint the detection sweep exists for: the train
    // corpus with every flagged doc dropped (LEFT ANTI against the
    // contaminated set) — what actually ships to the trainer, the same
    // flag→remove completion the dedup family has in q_dedup_kept.
    // Summarized per (source, lang) with ends pinned so a wrongly kept or
    // dropped doc moves a count or an endpoint.
    "q_decontam_kept" -> ((s, dir) => {
      val grams = Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("split", splitCol(col("doc_id")))
        .localCheckpoint()
      val evalGrams = grams.filter(col("split") =!= "train")
        .select(col("shingle")).distinct()
      val flagged = grams.filter(col("split") === "train")
        .join(evalGrams, "shingle")
        .select(col("doc_id")).distinct()
      t(s, dir, "documents")
        .filter(splitCol(col("doc_id")) === "train")
        .join(flagged, Seq("doc_id"), "left_anti")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
    }),

    // Bloom-prefiltered decontamination — the scale path when the eval
    // gram set is large enough that shuffling the FULL train gram explode
    // into the join is the bottleneck. Build a bloom filter over the eval
    // grams' hashes (distributed treeAggregate, a few bits per gram),
    // probe each train gram in the scan stage (codegen'd, no shuffle),
    // and only survivors — true hits plus the fpp sliver — reach the
    // exact verify join. False negatives are impossible, the join removes
    // false positives, so the answer is IDENTICAL to q_decontam_ngram's
    // (the oracle asserts exactly that); at a 1% hit rate the join's
    // shuffle input drops ~25× (fpp 0.03).
    "q_decontam_bloom" -> ((s, dir) => {
      val grams = Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
        .withColumn("split", splitCol(col("doc_id")))
        .localCheckpoint()
      val evalGrams = grams.filter(col("split") =!= "train")
        .select(col("shingle")).distinct()
        .localCheckpoint() // feeds the bloom build AND the verify join
      val nEval = evalGrams.count()
      // empty eval set: nothing can be contaminated, and Spark's
      // stat.bloomFilter over zero rows yields a null-bits filter
      val prefilter =
        if (nEval == 0L) lit(false)
        else graft.functions.BloomExprs.mightContainHashed(
          xxhash64(col("shingle")),
          evalGrams.select(xxhash64(col("shingle")).as("gh"))
            .stat.bloomFilter("gh", math.max(nEval, 64L), 0.03))
      grams.filter(col("split") === "train")
        .filter(prefilter)
        .join(evalGrams, "shingle")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("shingle")).as("n_hit_grams"))
    }),

    // END-TO-END CURATION: the composition the stage queries rehearse
    // individually, run as ONE plan — quality gate → exact dedup (min-id
    // survivor per normalized fingerprint) → n-gram decontamination of
    // the train split → per-source mixture toward an equal token budget —
    // reporting kept docs/tokens per (source, lang). Stage order matters
    // and is the production order: quality first (cheapest, biggest cut),
    // dedup before decontam (fewer docs to shingle), mixture last (rates
    // computed over what actually survived). Scale shape: the quality
    // gate and both hash memberships are codegen'd projections; dedup is
    // one shuffle by fingerprint; decontam shingles ONLY eval docs (the
    // 5-10% non-train slice) and the deduped train survivors — never the
    // raw corpus; mixture's weights ride a broadcast. Eval-side grams
    // come from the FULL corpus (contamination doesn't care whether the
    // eval doc would pass OUR quality bar), train-side grams only from
    // survivors (anything already cut can't contaminate the output).
    "q_curation" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nt = size(toks).cast("long")
      val ndist = size(array_distinct(toks)).cast("double")
      val avgLen = length(regexp_replace(col("text"), " ", ""))
        .cast("double") / nt.cast("double")
      val quality = t(s, dir, "documents")
        .filter(nt >= 30 && nt <= 400 && ndist / nt.cast("double") >= 0.2 &&
          avgLen >= 2 && avgLen <= 12)
        .select(col("doc_id"), col("source"), col("lang"), col("text"),
          nt.as("nt"))
      val deduped = quality
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(Text.fingerprint(col("text")))
            .orderBy(col("doc_id"))))
        .filter(col("rk") === 1).drop("rk")
        .filter(splitCol(col("doc_id")) === "train")
        .localCheckpoint() // feeds the shingle explode AND the anti join
      // r19: the contamination probe keys on xxhash64(gram) — 8-byte
      // keys instead of the 5-token gram STRINGS through the distinct
      // and the join (the family's shuffle-payload discipline, same as
      // q_decontam_ngram's probe), and a LEFT SEMI join replaces
      // inner+distinct so matching grams never fan out.
      val evalGrams = Dedup.docShingles(
          t(s, dir, "documents").filter(splitCol(col("doc_id")) =!= "train"),
          "doc_id", "text")
        .select(xxhash64(col("shingle")).as("gh")).distinct()
      val contaminated = Dedup.docShingles(deduped, "doc_id", "text")
        .select(col("doc_id"), xxhash64(col("shingle")).as("gh"))
        .join(evalGrams, Seq("gh"), "left_semi")
        .select(col("doc_id")).distinct()
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint() // weights agg + membership filter both read it
      val bySource = clean.groupBy(col("source"))
        .agg(sum(col("nt")).as("src_toks"))
      val totals = bySource.agg(sum(col("src_toks")).as("tot_toks"),
        count(lit(1)).as("k"))
      val weights = bySource.crossJoin(broadcast(totals))
        .select(col("source"), least(lit(100L),
          expr("(100 * tot_toks) DIV (k * src_toks)")).as("w_pct"))
      clean.join(broadcast(weights), "source")
        .filter(hashBucket(concat(lit("mix:"), col("source"), lit(":"),
          col("doc_id").cast("string"))) < col("w_pct"))
        .groupBy(col("source"), col("lang"), col("w_pct"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("toks"))
    }),

    // Winnowing fingerprints (MOSS): per-doc summary over the shared
    // Dedup.winnowFingerprints frame — one shuffle total (the aggregation
    // reuses the window's doc_id partitioning).
    "q_fingerprint_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(max(col("n_grams")).as("n_grams"),
          countDistinct(col("fp")).as("n_fp"),
          min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))),

    // Winnow-fingerprint containment (what MOSS selects fingerprints FOR):
    // docs sharing ≥ 3 selected fingerprints are containment/overlap
    // candidates. Inverted-index self-join on the fingerprint — pairs meet
    // only on shared fingerprints, and the winnowed set is ~2/(w+1) the
    // gram count, so the join input is a fraction of the jaccard one's.
    "q_winnow_containment" -> ((s, dir) => {
      // r19: the fingerprint shuffles as unhex(md5) 16-byte binary —
      // same 128 bits, half the hex-string width (guide §2.3); unhex is
      // bijective on md5 output, so the pair set is unchanged.
      val fps = Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id",
          "text")
        .select(col("doc_id"), unhex(col("fp")).as("fp"))
        .repartition(col("fp")) // keyed session-width layout (r19 A/B)
        .dropDuplicates(Seq("doc_id", "fp"))
        .localCheckpoint() // consumed by both sides of the self-join
      // distinct column names per side: same-lineage a("fp") === b("fp")
      // trips Spark's ambiguous-self-join disambiguation (WARN + reliance
      // on dataset-id tagging); renaming makes the condition unambiguous
      val a = fps.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
      val b = fps.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
      a.join(b, col("fp_a") === col("fp_b") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .filter(col("shared_fp") >= 3)
    }),

    // Repetition signals (Gopher-style quality filters): duplicate-3-gram
    // fraction + top-token frequency ratio. Both sides are explode →
    // two-level hash-agg (map-side partial combine) → join on doc_id —
    // linear work, no per-doc quadratic HOFs, so a 10K-token doc costs
    // 10K rows, not 10^8 comparisons.
    "q_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tokStats = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_tokens"), max(col("n")).as("top_n"))
      val gramStats = Dedup.docShingles(docs, "doc_id", "text", n = 3)
        .groupBy(col("doc_id"), col("shingle")).agg(count(lit(1)).as("n"))
        .groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_3grams"),
          (sum(col("n")) - count(lit(1))).as("dup_3grams"))
      tokStats.join(gramStats, "doc_id").select(
        col("doc_id"), col("n_tokens"),
        round(col("top_n").cast("double") / col("n_tokens"), 4)
          .as("top_tok_ratio"),
        col("n_3grams"),
        round(col("dup_3grams").cast("double") / col("n_3grams"), 4)
          .as("dup_3gram_ratio"))
    }),

    // N-gram novelty (the memorization/repeat audit beside q_repetition's
    // WITHIN-doc signals): per doc, the fraction of its DISTINCT 5-gram
    // shingles whose first corpus occurrence (min doc_id) is this doc —
    // low novelty means the doc restates earlier content, the
    // upweight/downweight dial a dedup-soft pipeline reads. Shingle
    // semantics shared with the dedup family; grams shuffle as 60-bit
    // md5-prefix longs (the hashBucket idiom — ENGINE-CONSISTENT hashing,
    // so even a collision collides identically on both sides, unlike an
    // engine-specific hash) — the text itself never shuffles. Shape: one
    // explode → per-doc distinct → gram hash-agg (min doc) → join back;
    // all linear with map-side combine.
    "q_ngram_novelty" -> ((s, dir) => {
      // g-keyed checkpoint layout (r19, measured 2.0 s vs 2.4 s plain):
      // the first-seen agg and the join-back read session-width blocks.
      val sh = Dedup.docShingles(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long")
            .as("g"))
        .repartition(col("g"))
        .dropDuplicates(Seq("doc_id", "g"))
        .localCheckpoint() // first-seen agg + join-back side
      val firstSeen = sh.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"))
      sh.join(firstSeen, Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          round(col("n_novel") / col("n_grams").cast("double"), 6)
            .as("novelty"))
    }),

    // Perceptual-hash image near-dup (aHash — the average-hash baseline
    // of the pHash family): synthesize a REAL 8×8 grayscale PNG per doc
    // whose pixels are integer arithmetic on doc_id (the buildWav
    // posture), decode the actual raster back through javax.imageio on
    // the executors, aHash the decoded pixels into four 16-bit bands
    // (bit = pixel·64 > Σpixels — division cross-multiplied away), and
    // find near-dup pairs by banded LSH + Hamming ≤ 3 (the SimHash
    // machinery's shape, one equi-join on (band, value)). The oracle
    // predicts the same bands from the pixel ARITHMETIC alone — no codec
    // — so a misdecode (or a lossy roundtrip) breaks the hash compare.
    // Fixture structure: docs sharing doc_id % 50 share an md5-derived
    // base pattern (the hashBucket idiom — a multiplicative formula
    // collapses to g mod 7 classes and floods the output with
    // cross-group hamming-0 pairs); doc_id % 3 perturbs three fixed
    // pixels, so same-group variants differ in ≤ 3 bits confined to
    // band 0 and bands 1-3 are the guaranteed LSH match. The `div 1e6`
    // group offset keeps dup-group SIZE constant under fixture
    // replication (new corpus ⇒ new dup families, the q_dbscan
    // constant-density stance; 6.0× → linear at factor 10) and is
    // identically 0 on every real sf dir.
    "q_multimodal_phash" -> ((s, dir) => {
      import s.implicits._
      val hashes = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id").isNotNull).as[Long]
        .map { id =>
          val g = id % 50 + (id / 1000000L) * 50
          val v = id % 3
          val px = Array.tabulate(64) { b =>
            if (b < 3) (40 + v * 70).toInt
            else {
              val d = java.security.MessageDigest.getInstance("MD5")
                .digest(s"px:$g:$b".getBytes("UTF-8"))
              if (((d(0) >> 4) & 0xf) >= 8) 216 else 40
            }
          }
          val dec = Multimodal.decodeGray8x8(Multimodal.buildGrayPng(px))
            .getOrElse(Array.fill(64)(-1)) // sentinel → oracle mismatch
          val bd = Multimodal.aHashBands(dec)
          (id, bd(0), bd(1), bd(2), bd(3))
        }.toDF("doc_id", "b0", "b1", "b2", "b3")
        .localCheckpoint() // band explode + two hamming join sides
      val e = hashes.select(col("doc_id"), posexplode(array(
        col("b0"), col("b1"), col("b2"), col("b3"))).as(Seq("k", "bv")))
      val cand = e.as("x").join(e.as("y"),
          col("x.k") === col("y.k") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val ha = hashes.select(col("doc_id").as("doc_a"),
        col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"),
        col("b3").as("a3"))
      val hb = hashes.select(col("doc_id").as("doc_b"),
        col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"),
        col("b3").as("c3"))
      cand.join(ha, "doc_a").join(hb, "doc_b")
        .withColumn("hamming",
          bit_count(col("a0").bitwiseXOR(col("c0"))).cast("long") +
            bit_count(col("a1").bitwiseXOR(col("c1"))) +
            bit_count(col("a2").bitwiseXOR(col("c2"))) +
            bit_count(col("a3").bitwiseXOR(col("c3"))))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    }),

    // KMV distinct-count sketch (Beyer et al. 2007 — the θ-sketch core)
    // per source over distinct 5-gram shingles, BESIDE the exact count it
    // estimates: the k smallest engine-consistent gram hashes (same
    // 60-bit md5-prefix keys as q_ngram_novelty) via the typed-Aggregator
    // UDAF graft.functions.Kmv — O(k) state per group, map-side partial
    // merge, shuffle O(groups × k) longs instead of O(grams). Under k
    // distinct values the buffer IS the distinct set (exact); at or over,
    // the estimate (k−1)·M/U_(k) is four IEEE-exact ops over the k-th min
    // — so unlike HLL ([[graft.engine.Sketches]]) the ESTIMATE itself is
    // oracle-checkable: DuckDB re-derives the same k-th min by sorting.
    "q_distinct_kmv" -> ((s, dir) => {
      val k = 64
      val m = 1152921504606846976.0 // 2^60, the md5-prefix hash domain
      val grams = Dedup.docShingles(t(s, dir, "documents"), "doc_id",
          "text")
        .join(t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("source"),
          conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long")
            .as("g"))
      grams.groupBy(col("source"))
        .agg(countDistinct(col("g")).as("n_exact"),
          graft.functions.Kmv.kmvAgg(col("g"), k).as("kept"))
        .select(col("source"), col("n_exact"),
          when(size(col("kept")) < k,
            size(col("kept")).cast("double"))
            .otherwise(round(lit((k - 1).toDouble) * m /
              element_at(col("kept"), k), 2)).as("est"),
          when(size(col("kept")) < k, 0.0)
            .otherwise(round(abs(round(lit((k - 1).toDouble) * m /
              element_at(col("kept"), k), 2) - col("n_exact")) /
              col("n_exact"), 4)).as("rel_err"))
    }),

    // Unicode canonicalization: the fixture text is pure ASCII, so (like
    // q_pii_scrub below) the accented forms are synthesized IDENTICALLY in
    // both engines — translate vowels to precomposed Latin-1 accents, and
    // derive the NFD-decomposed spelling (base letter + combining acute)
    // via replace chains. The graft-native codegen'd expressions then must
    // agree with DuckDB's built-ins: strip_accents(accented) restores the
    // original head, and nfc_normalize(decomposed) recomposes to the
    // accented form. One projection, zero shuffle — the cleaning pass that
    // runs BEFORE any fingerprint/shingle dedup so byte-variant spellings
    // of the same text collapse.
    "q_text_normalize" -> ((s, dir) => {
      import graft.functions.TextExprs
      val acute = "\u0301" // combining acute accent
      val precomposed = "\u00e1\u00e9\u00ed\u00f3\u00fa" // a e i o u, acute
      val head = substring(col("text"), 1, 48)
      val accented = translate(head, "aeiou", precomposed)
      val decomposed = "aeiou".map(_.toString).zip(precomposed.map(_.toString))
        .foldLeft(accented) { case (c, (base, pre)) =>
          regexp_replace(c, pre, base + acute)
        }
      t(s, dir, "documents").select(
        col("doc_id"),
        accented.as("accented"),
        TextExprs.stripAccents(accented).as("stripped"),
        (TextExprs.stripAccents(accented) === head).as("roundtrip_ok"),
        (TextExprs.nfcNormalize(decomposed) === accented).as("nfc_ok"))
    }),

    // PII detect + redact: the fixture carries no PII, so a deterministic
    // synthetic email/phone is appended to a known doc subset IDENTICALLY in
    // both engines; counts and the redacted-text hash must then agree. One
    // codegen'd projection, zero shuffle.
    "q_pii_scrub" -> ((s, dir) => {
      val withPii = concat(col("text"),
        when(col("doc_id") % 10 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.countMatches(withPii, Text.EmailRe).as("n_emails"),
        Text.countMatches(withPii, Text.PhoneRe).as("n_phones"),
        md5(Text.redactPii(withPii).cast("binary")).as("redacted_hash"))
    }),

    // Multimodal 1→N: stub frame sampling (every 4th frame) — flatMap over
    // partitions; output cardinality varies per record.
    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaTable(s, dir), 4).toDF()),

    // Multimodal metadata: built-in length/md5 expressions over the opaque
    // binary payload (codegen'd; the mapPartitions decode path —
    // Multimodal.extractFeatures — is ScalaTest-verified to produce the
    // same rows and is the slot a real codec plugs into).
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(Multimodal.mediaTable(s, dir).toDF(),
        "doc_id", "media")),

    // REAL audio header decode under the gate: synthesize a valid PCM WAV
    // per doc whose header fields are arithmetic on (doc_id, n_chars),
    // parse it back with javax.sound ([[Multimodal.decodeAudio]]), and let
    // the DuckDB oracle predict the same arithmetic — a misparse surfaces
    // as -1 sentinels and fails the hash. Executor-side map, no shuffle.
    "q_multimodal_audio" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
        .filter(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .as[(Long, Long)]
        .map { case (id, nChars) =>
          val wav = Multimodal.buildWav(
            (8000L + (id % 5L) * 2000L).toInt,
            (1L + id % 2L).toInt,
            (50L + nChars % 100L).toInt)
          val (rate, frames, ch) =
            Multimodal.decodeAudio(wav).getOrElse((-1L, -1L, -1L))
          (id, rate, frames, ch)
        }.toDF("doc_id", "sample_rate", "n_frames", "n_channels")
    }),

    // REAL MP4 box-walk decode under the gate, same oracle-twin shape:
    // odd ids lead with a 0×0 audio trak (exercises find-the-visual-track)
    // and every third id uses a version-1 tkhd (64-bit times layout).
    "q_multimodal_video" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select(col("doc_id"))
        .filter(col("doc_id").isNotNull) // the empty-input guard: a null id
        // would violate the non-nullable Long encoder before the map runs
        .as[Long]
        .map { id =>
          val mp4 = Multimodal.buildMp4(
            (160L + (id % 8L) * 8L).toInt,
            (120L + (id % 6L) * 10L).toInt,
            audioLead = id % 2L == 1L,
            v1 = id % 3L == 0L)
          val (w, h, tracks) =
            Multimodal.decodeVideo(mp4).getOrElse((-1L, -1L, -1L))
          (id, w, h, tracks)
        }.toDF("doc_id", "width", "height", "n_tracks")
    }),
  )

  /** DuckDB shingle CTE shared by the dedup oracles — mirrors
    * [[graft.ext.Dedup.shingles]]: 5-token shingles, whole-text fallback
    * for short docs. DuckDB `range(1, n)` is end-exclusive like Spark's
    * `sequence(1, n-1)`+transform bound; `t[i:i+4]` is 1-based inclusive
    * like Spark's `slice(t, i, 5)`.
    */
  private[queries] val shingleCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
      |    THEN list_transform(range(1, len(t) - 3),
      |           i -> array_to_string(t[i:i+4], ' '))
      |    ELSE [array_to_string(t, ' ')] END) AS shingle
      |  FROM toks)""".stripMargin

  /** Verified-pair → transitive-closure CTE chain (`d`, the minhash `cand`
    * set, `sizes`, `common`, `pairs`, `reach`) — ONE definition for every
    * component-label oracle (clusters, kept, kept_best, leakage-safe
    * splits), the same drift-proofing as [[shingleCte]]/[[minhashCandCte]].
    * Needs `WITH RECURSIVE` and the `sh` shingle CTE in scope; a
    * component's label is `min(dst)` over `reach` grouped by `src`.
    */
  private[queries] val verifiedReachCte =
    s"""d AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |$minhashCandCte,
      |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
      |common AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS common
      |  FROM cand c
      |  JOIN d a ON a.doc_id = c.doc_a
      |  JOIN d b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM common
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
      |    >= 0.5),
      |nodes AS (
      |  SELECT doc_a AS id FROM pairs UNION SELECT doc_b FROM pairs),
      |e AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |  UNION SELECT id, id FROM nodes),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst)""".stripMargin

  /** DuckDB CTE chain v0, (p1, m1, v1) … (p_rounds, m_rounds, v_rounds)
    * mirroring [[graft.ext.Bpe.learnMerges]]: v0 = char-split word-freq
    * vocab; p_r = adjacent-pair counts of v_{r-1}; m_r = the (cnt DESC,
    * a ASC, b ASC) argmax; v_r = v_{r-1} with that merge replaced in.
    * ONE definition for both BPE oracles.
    */
  /** The heuristic keep rule as a boolean — q_quality_filter's reason
    * cascade collapsed to its `keep` branch; the Naive Bayes family's
    * weak label. Every term is an IEEE division or integer compare, so
    * both engines decide it identically.
    */
  private def nbKeep: Column = {
    val toks = split(col("text"), " ")
    val nt = size(toks).cast("double")
    val ndist = size(array_distinct(toks)).cast("double")
    val avgLen = length(regexp_replace(col("text"), " ", ""))
      .cast("double") / nt
    !(nt < 30 || nt > 400 || ndist / nt < 0.2 || avgLen < 2 || avgLen > 12)
  }

  /** Naive Bayes model: (weight table (tok, cp, cn, w_nano), one-row
    * constants (np, nn, v, dp, dn, w0, prior)). w_nano is the add-one-
    * smoothed log-likelihood ratio ln((cp+1)/(Npos+V)) −
    * ln((cn+1)/(Nneg+V)) floored to nano-units per TYPE; w0 is the same
    * formula at cp = cn = 0 (the unseen-token weight), prior is
    * ln(docs_pos/docs_neg) in nano-units. The train projection is
    * localCheckpointed so token counts and doc priors read ONE corpus
    * scan; the count table is vocabulary-sized (Zipf-small), constants
    * are one row.
    */
  private def nbWeights(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val train = t(s, dir, "documents")
      .filter(splitCol(col("doc_id")) === "train")
      .select(nbKeep.as("pos"), col("text"))
      .localCheckpoint()
    val cnt = train
      .select(col("pos"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("cn"))
      .localCheckpoint()
    val scal = cnt
      .agg(sum(col("cp")).as("np"), sum(col("cn")).as("nn"),
        count(lit(1)).as("v"))
      .crossJoin(train.agg(
        sum(when(col("pos"), 1L).otherwise(0L)).as("dp"),
        sum(when(!col("pos"), 1L).otherwise(0L)).as("dn")))
      .select(col("np"), col("nn"), col("v"), col("dp"), col("dn"),
        floor((log(lit(1.0) / (col("np") + col("v"))) -
          log(lit(1.0) / (col("nn") + col("v")))) * 1e9 + 0.5)
          .cast("long").as("w0"),
        floor(log(col("dp").cast("double") / col("dn")) * 1e9 + 0.5)
          .cast("long").as("prior"))
    val wtab = cnt.crossJoin(broadcast(scal.select("np", "nn", "v")))
      .select(col("tok"), col("cp"), col("cn"),
        floor((log((col("cp") + 1.0) / (col("np") + col("v"))) -
          log((col("cn") + 1.0) / (col("nn") + col("v")))) * 1e9 + 0.5)
          .cast("long").as("w_nano"))
    (wtab, scal)
  }

  /** Held-out docs scored by the Naive Bayes model: (doc_id, n_tokens,
    * n_oov, score_nano, actual_pos). score = prior + Σ occurrences'
    * weights, unseen types contributing w0 each — all integer sums.
    */
  private def nbScored(s: SparkSession, dir: String): DataFrame = {
    val (wtab, scal) = nbWeights(s, dir)
    t(s, dir, "documents")
      .filter(splitCol(col("doc_id")) =!= "train")
      .select(col("doc_id"), col("lang"), nbKeep.as("actual_pos"),
        explode(split(col("text"), " ")).as("tok"))
      .join(wtab.select(col("tok"), col("w_nano")), Seq("tok"), "left")
      .groupBy(col("doc_id"), col("lang"), col("actual_pos"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w_nano"), lit(0L))).as("sw"),
        sum(when(col("w_nano").isNull, 1L).otherwise(0L)).as("n_oov"))
      .crossJoin(broadcast(scal.select(col("w0"), col("prior"))))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        (col("prior") + col("sw") + col("n_oov") * col("w0"))
          .as("score_nano"),
        col("actual_pos"))
  }

  /** Deterministic raw-URL synthesis from doc_id — the fixture side of
    * q_dedup_url (the parquet tables are read-only, so URLs are derived
    * arithmetic, like the multimodal family's payloads). Groups of 10
    * docs share a host+path; the decorations that canonicalization must
    * remove (case, default ports, tracking params, trailing slash,
    * fragment) and must KEEP (the :8080 non-default port, the id= real
    * param) vary by residue so every rule is exercised both ways. The
    * d%7 ∈ {3,4} residues carry the SAME two kept params in both orders,
    * so the param-sort rule is exercised both ways too.
    */
  private[graft] def synthUrl: Column = {
    val d = col("doc_id")
    val g = (d / 10).cast("long")
    val host = concat(lit("www.site"), g, lit(".example.com"))
    concat(
      when(d % 2 === 0, "HTTP").otherwise("https"), lit("://"),
      when(d % 4 === 0, upper(host)).otherwise(host),
      when(d % 10 === 7, ":8080").when(d % 6 === 0, ":80")
        .when(d % 6 === 3, ":443").otherwise(""),
      lit("/docs/"), g,
      when(d % 5 === 0, "/").otherwise(""),
      when(d % 7 === 0,
          concat(lit("?id="), g, lit("&utm_source=feed&utm_campaign=sync")))
        .when(d % 7 === 1, "?utm_medium=rss")
        .when(d % 7 === 2, concat(lit("?ref=home&id="), g))
        .when(d % 7 === 3, concat(lit("?id="), g, lit("&page=2")))
        .when(d % 7 === 4, concat(lit("?page=2&id="), g))
        .otherwise(""),
      when(d % 11 === 0, concat(lit("#sec"), d % 3)).otherwise(""))
  }

  /** URL canonicalization, one codegen'd projection: lowercase scheme
    * and host, strip the scheme's default port (http:80 / https:443,
    * others kept), strip trailing slashes from the path, drop tracking
    * params (utm_*, fbclid, gclid, ref) and SORT the kept params
    * lexicographically (re-crawls differing only in param order must
    * collapse — C4/Dolma-grade canonicalizers sort), drop the fragment —
    * the C4/Dolma pre-dedup normalization. Structure comes from
    * parse_url (never hand-split), params from one array HOF over the
    * query string.
    */
  private[graft] def urlCanon(url: Column): Column = {
    def part(p: String) = call_function("parse_url", url, lit(p))
    val proto = lower(part("PROTOCOL"))
    val host = lower(part("HOST"))
    val port = regexp_extract(part("AUTHORITY"), ":(\\d+)$", 1)
    val portPart = when(port =!= "" &&
        !(proto === "http" && port === "80") &&
        !(proto === "https" && port === "443"),
      concat(lit(":"), port)).otherwise("")
    val q = part("QUERY")
    val keptQ = array_join(array_sort(filter(split(q, "&"),
      p => !p.rlike("^(utm_[a-z]+|fbclid|gclid|ref)="))), "&")
    val queryPart = when(q.isNull || keptQ === "", lit(""))
      .otherwise(concat(lit("?"), keptQ))
    concat(proto, lit("://"), host, portPart,
      rtrim(part("PATH"), "/"), queryPart)
  }

  /** Per-doc argmax of the multiclass NB language model (see
    * q_langid_nb's scaladoc): (doc_id, lang, pred_lang, score_nano).
    * The train token-count table is localCheckpointed because it feeds
    * THREE consumers (per-lang totals, vocab size, the weight table);
    * the per-lang constants and the vocab×L weight table are broadcast
    * into the scoring join, so the corpus token stream shuffles once —
    * on doc_id, for the per-(doc, lang) hash-agg.
    *
    * Parameterized on the FEATURE extractor (`feats` array per doc,
    * `nFeats` its length) so the whitespace-unigram model and the
    * fastText-style char-n-gram model (which survives unsegmented
    * scripts — CJK/Thai tokenize to whole sentences under whitespace
    * splitting and the unigram model collapses; Joulin 2016 §2, CCNet
    * §3.1) share one scoring pipeline and one plan shape.
    */
  /** The (lang, text) training rows the langid family trains on — the
    * hash-split's train docs with the declared lang as the weak label.
    * Shared with [[graft.streaming.Streams.writeLangidModel]] so the
    * streaming monitor's static model is trained on EXACTLY the rows
    * the batch query uses (the parity pin depends on it).
    */
  private[graft] def langidTrain(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(splitCol(col("doc_id")) === "train")
      .select(col("lang"), col("text"))

  private def langidBestOn(s: SparkSession, dir: String,
      feats: Column => Column, nFeats: Column => Column,
      widen: Boolean = false): DataFrame = {
    val docs = t(s, dir, "documents")
    val train = langidTrain(s, dir)
      .select(col("lang").as("mlang"), col("text"))
      .localCheckpoint()
    val (w, lc) = langidModel(train, feats, widen)
    langidScore(docs, w, lc, feats, nFeats, widen)
  }

  /** Train the multiclass-NB model tables from (mlang, text) rows:
    * the vocab×L weight table `(tok, mlang, w_nano)` and the per-lang
    * constants `(mlang, prior, w0)`. Factored out of [[langidBestOn]]
    * so the streaming confusion monitor
    * ([[graft.streaming.Streams.startLangidMonitor]]) scores arriving
    * batches against the SAME model tables the batch query trains —
    * the model is the static broadcast side of that stream.
    */
  /** Widen a narrow scan feeding a per-row-HEAVY stage: the fixture
    * tables arrive as one parquet split (584 KB at sf0.1), so a gram
    * explode costing ~10³ expression evaluations per row would
    * otherwise run single-core regardless of session width (r19
    * measured q_langid_chargram at 5.3 s with 31 idle threads).
    * Round-robin repartition ONLY when the source has fewer splits
    * than the session's parallelism — at production scale the scan has
    * more splits than cores and this is a no-op, never a full-corpus
    * text shuffle. Opt-IN per feature family: the unigram explode is
    * ~10x lighter per row and measured FASTER unwidened at fixture
    * scale (1.4 s vs 2.6 s — the extra exchange's stage latency
    * outweighs the parallelism on a thin stream), so only the chargram
    * extractors ask for it.
    */
  private def widened(df: DataFrame, widen: Boolean): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (widen && df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  private[graft] def langidModel(train: DataFrame,
      feats: Column => Column, widen: Boolean = false)
      : (DataFrame, DataFrame) = {
    val cnt = widened(train, widen)
      .select(col("mlang"), explode(feats(col("text"))).as("tok"))
      .groupBy(col("mlang"), col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tl = cnt.groupBy(col("mlang")).agg(sum(col("c")).as("tl"))
    val vv = cnt.agg(count_distinct(col("tok")).as("v"))
    val lc = tl
      .join(train.groupBy(col("mlang")).agg(count(lit(1)).as("dl")), "mlang")
      .crossJoin(vv)
      .crossJoin(train.agg(count(lit(1)).as("dt")))
      .select(col("mlang"),
        floor(log(col("dl").cast("double") / col("dt")) * 1e9 + 0.5)
          .cast("long").as("prior"),
        floor(log(lit(1.0) / (col("tl") + col("v"))) * 1e9 + 0.5)
          .cast("long").as("w0"))
    val w = cnt.join(tl, "mlang").crossJoin(vv)
      .select(col("tok"), col("mlang"),
        floor(log((col("c") + lit(1.0)) / (col("tl") + col("v"))) * 1e9
          + 0.5).cast("long").as("w_nano"))
    (w, lc)
  }

  /** Score (doc_id, lang, text) rows against trained model tables and
    * take the per-doc argmax — the read side of [[langidModel]]'s
    * split, shared by the batch rows and the streaming monitor.
    */
  private[graft] def langidScore(docs: DataFrame, w: DataFrame,
      lc: DataFrame, feats: Column => Column, nFeats: Column => Column,
      widen: Boolean = false): DataFrame = {
    val nt = docs.select(col("doc_id"), col("lang"),
      nFeats(col("text")).cast("long").as("n_tokens"))
    val hit = widened(docs, widen)
      .select(col("doc_id"), explode(feats(col("text"))).as("tok"))
      .join(broadcast(w), Seq("tok"))
      .groupBy(col("doc_id"), col("mlang"))
      .agg(sum(col("w_nano")).as("sw"), count(lit(1)).as("n_hit"))
    nt.crossJoin(broadcast(lc))
      .join(hit, Seq("doc_id", "mlang"), "left")
      .select(col("doc_id"), col("lang"), col("mlang"),
        (col("prior") + coalesce(col("sw"), lit(0L)) +
          (col("n_tokens") - coalesce(col("n_hit"), lit(0L))) * col("w0"))
          .as("score_nano"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(max(struct(col("score_nano"), col("mlang"))).as("best"))
      .select(col("doc_id"), col("lang"),
        col("best.mlang").as("pred_lang"),
        col("best.score_nano").as("score_nano"))
  }

  /** The whitespace-unigram NB (the r17 model). */
  private[graft] val langidUnigramFeats: Column => Column =
    t => split(t, " ")
  private[graft] val langidUnigramNFeats: Column => Column =
    t => size(split(t, " ")).cast("long")

  private def langidBest(s: SparkSession, dir: String): DataFrame =
    langidBestOn(s, dir, langidUnigramFeats, langidUnigramNFeats)

  /** Char-n-gram features as 8-byte xxhash64 keys: every position of
    * the raw text (spaces included, so word-boundary grams like " th"
    * are features too — fastText's subword trick); a text shorter than
    * n yields its single truncated gram, so no doc scores on an empty
    * feature set. One `transform` over a position sequence — codegen'd,
    * no UDF.
    *
    * Why hashes and not the gram strings (r18 measured the string form
    * at 6.25 s / sf0.1, pure CPU in the string-keyed hash-agg + join
    * probes): the NB pipeline only ever tests gram EQUALITY — count,
    * distinct, join — so an injective-in-practice 8-byte key carries
    * the whole computation (the dedup family's shuffle-payload
    * discipline, [[graft.streaming.Streams.writeEvalGrams]]). The
    * DuckDB twin deliberately stays STRING-keyed: its exact hash match
    * is then a per-round proof that xxhash64 collided nowhere on the
    * fixture vocabulary (a collision would merge two grams' counts and
    * shift scores), which a both-sides-hashed oracle could never show.
    */
  private[graft] def chargramHashes(n: Int)(t: Column): Column =
    transform(sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => xxhash64(t.substr(i, lit(n))))

  /** The char-trigram NB — identical scoring pipeline and plan shape
    * (one broadcast weight table, one scoring scan, per-doc hash-agg);
    * only the feature extractor differs.
    */
  private def langidChargram(s: SparkSession, dir: String): DataFrame =
    langidBestOn(s, dir, chargramHashes(3),
      t => greatest(length(t) - 2, lit(1)), widen = true)

  /** fastText-proper features (Joulin 2016 §2 uses char 3-5-grams
    * jointly): the concatenated 3/4/5-gram hash streams. Feature count
    * is the sum of the per-n counts, matching the truncated-gram rule
    * per n.
    */
  private[graft] val chargram35Feats: Column => Column = t =>
    concat(chargramHashes(3)(t), chargramHashes(4)(t),
      chargramHashes(5)(t))
  private[graft] val chargram35NFeats: Column => Column = t =>
    greatest(length(t) - 2, lit(1)) + greatest(length(t) - 3, lit(1)) +
      greatest(length(t) - 4, lit(1))

  private def langidChargram35(s: SparkSession, dir: String): DataFrame =
    langidBestOn(s, dir, chargram35Feats, chargram35NFeats, widen = true)

  private def bpeCtes(rounds: Int): String = {
    val v0 =
      """v0 AS (
        |  SELECT word, regexp_replace(word, '(.)', '[\1]', 'g') AS repr,
        |    freq
        |  FROM (
        |    SELECT w AS word, count(*) AS freq FROM (
        |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |      FROM documents)
        |    GROUP BY 1))""".stripMargin
    val perRound = (1 to rounds).map { r =>
      s"""p$r AS (
        |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT s[ui] AS a, s[ui + 1] AS b, freq FROM (
        |      SELECT s, freq, unnest(range(1, len(s))) AS ui FROM (
        |        SELECT str_split(trim(repr, '[]'), '][') AS s, freq
        |        FROM v${r - 1})))
        |  GROUP BY 1, 2),
        |m$r AS (
        |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        |v$r AS (
        |  SELECT word,
        |    replace(repr, '[' || m.a || '][' || m.b || ']',
        |      '[' || m.a || m.b || ']') AS repr,
        |    freq
        |  FROM v${r - 1}, m$r AS m)""".stripMargin
    }
    (v0 +: perRound).mkString(",\n")
  }

  /** DuckDB twin of [[graft.ext.Unigram.train]] (maxLen=4, seedTopK=48,
    * keepK=32): identical seed, costs, prune, and M-steps — but the
    * E-step enumerates ALL segmentations of each word via a recursive
    * CTE and takes min by (cost, repr), the brute-force formulation the
    * engine's linear Viterbi DP must equal. Requires WITH RECURSIVE on
    * the consuming query. Ends in `up2` (piece, l, cost), `ubest2`
    * (word, freq, cost, repr), `uuse2` (piece, cnt).
    */
  private val unigramCtes =
    """uv AS (
      |  SELECT w AS word, count(*) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      |    FROM documents)
      |  GROUP BY 1),
      |usub AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(flatten(list_transform(
      |      range(1, least(4, length(word)) + 1), l ->
      |        list_transform(range(1, length(word) - l + 2), i ->
      |          substr(word, CAST(i AS INT), CAST(l AS INT)))))) AS piece
      |    FROM uv)
      |  GROUP BY 1),
      |useed AS (
      |  -- DISTINCT over UNION ALL, not UNION: inside a WITH RECURSIVE
      |  -- clause DuckDB applies recursive-union semantics to EVERY
      |  -- CTE's top-level UNION and stops deduplicating plain set ops.
      |  SELECT DISTINCT piece, cnt FROM (
      |    SELECT piece, cnt FROM
      |      (SELECT piece, cnt FROM usub ORDER BY cnt DESC, piece
      |       LIMIT 48)
      |    UNION ALL
      |    SELECT piece, cnt FROM usub WHERE length(piece) = 1)),
      |up1 AS (
      |  SELECT piece, length(piece) AS l,
      |    CAST(floor(ln((t.total + t.np) / (cnt + 1.0)) * 1000000 + 0.5)
      |      AS BIGINT) AS cost
      |  FROM useed, (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |    count(*) AS np FROM useed) t),
      |urec1 AS (
      |  SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS cost,
      |    '' AS repr
      |  FROM uv
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + p.l, s.cost + p.cost,
      |    s.repr || '[' || p.piece || ']'
      |  FROM urec1 s JOIN up1 p ON s.pos < length(s.word)
      |    AND substr(s.word, s.pos + 1, p.l) = p.piece),
      |ubest1 AS (
      |  SELECT word, freq, cost, repr FROM (
      |    SELECT word, freq, cost, repr, row_number() OVER (
      |      PARTITION BY word ORDER BY cost, repr) AS rn
      |    FROM urec1 WHERE pos = length(word))
      |  WHERE rn = 1),
      |uuse1 AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(str_split(trim(repr, '[]'), '][')) AS piece
      |    FROM ubest1)
      |  GROUP BY 1),
      |up2base AS (
      |  SELECT DISTINCT piece, cnt FROM (
      |    SELECT piece, cnt FROM
      |      (SELECT piece, cnt FROM uuse1 ORDER BY cnt DESC, piece
      |       LIMIT 32)
      |    UNION ALL
      |    SELECT s.piece, COALESCE(u.cnt, 0) AS cnt
      |    FROM (SELECT piece FROM useed WHERE length(piece) = 1) s
      |    LEFT JOIN uuse1 u USING (piece))),
      |up2 AS (
      |  SELECT piece, length(piece) AS l,
      |    CAST(floor(ln((t.total + t.np) / (cnt + 1.0)) * 1000000 + 0.5)
      |      AS BIGINT) AS cost
      |  FROM up2base, (SELECT CAST(sum(cnt) AS BIGINT) AS total,
      |    count(*) AS np FROM up2base) t),
      |urec2 AS (
      |  SELECT word, freq, 0 AS pos, CAST(0 AS BIGINT) AS cost,
      |    '' AS repr
      |  FROM uv
      |  UNION ALL
      |  SELECT s.word, s.freq, s.pos + p.l, s.cost + p.cost,
      |    s.repr || '[' || p.piece || ']'
      |  FROM urec2 s JOIN up2 p ON s.pos < length(s.word)
      |    AND substr(s.word, s.pos + 1, p.l) = p.piece),
      |ubest2 AS (
      |  SELECT word, freq, cost, repr FROM (
      |    SELECT word, freq, cost, repr, row_number() OVER (
      |      PARTITION BY word ORDER BY cost, repr) AS rn
      |    FROM urec2 WHERE pos = length(word))
      |  WHERE rn = 1),
      |uuse2 AS (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(str_split(trim(repr, '[]'), '][')) AS piece
      |    FROM ubest2)
      |  GROUP BY 1)""".stripMargin

  /** DuckDB CTEs `toks`/`g` building the 4-token gram md5 list `hs` per doc
    * — mirrors [[graft.ext.Dedup.winnowFingerprints]]'s gram/hash stage;
    * ONE definition for both winnow oracles.
    */
  private val winnowGramCte =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(t) >= 4
      |    THEN list_transform(range(1, len(t) - 2),
      |           i -> md5(array_to_string(t[i:i+3], ' ')))
      |    ELSE [md5(array_to_string(t, ' '))] END AS hs
      |  FROM toks)""".stripMargin

  /** BM25 per-doc scores (doc_id, score, n_terms_hit) for the fixed query
    * (spark, hash, merge) — shared by q_bm25_topk and the q_hybrid_rrf
    * lexical arm. Per-term scores land in exact micro-units (explicit
    * half-up floor, the q_sim_quant rounding idiom): the per-doc score is
    * then an ORDER-INDEPENDENT integer sum — a float sum of rounded terms
    * can land on a .xxxx5 midpoint and round differently per engine.
    */
  /** The fixed lexical query of the retrieval family. */
  private val bm25Terms = Seq("spark", "hash", "merge")

  /** BM25 scores for a WEIGHTED term table (token, wdiv): each term's
    * micro-unit contribution is integer-divided by its wdiv before the
    * per-doc sum (wdiv = 1 for query terms, 2 for RM3 expansion terms —
    * the λ=0.5 interpolation as exact integer halving). df/idf are
    * computed against the given term set, exactly as the fixed-term
    * variant does.
    */
  private def bm25ScoresWith(s: SparkSession, dir: String,
      termsDf: DataFrame): DataFrame = {
    val docs = t(s, dir, "documents")
    val dl = docs.select(col("doc_id"), Text.nTokens(col("text")).as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .join(broadcast(termsDf), "token")
      .groupBy(col("doc_id"), col("token"), col("wdiv"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_corpus"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    tf.join(dl, "doc_id")
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_corpus") - col("df") + 0.5) /
          (col("df") + 0.5)))
      .withColumn("ts_micro", floor(col("idf") * col("tf") * 2.2 /
        (col("tf") + lit(1.2) * (lit(0.25) +
          lit(0.75) * col("dl") / col("avgdl"))) * 1e6 + 0.5))
      .groupBy(col("doc_id"))
      .agg((sum(expr("ts_micro div wdiv")) / lit(1e6)).as("score"),
        count(lit(1)).as("n_terms_hit"))
  }

  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25ScoresWith(s, dir,
      bm25Terms.toDF("token").withColumn("wdiv", lit(1L)))
  }

  /** Dirichlet query-likelihood scores over the fixed query (μ = 2000):
    * doc lengths and corpus term frequencies from one token pass, then
    * dl × terms via a 3-row broadcast cross join. See q_retrieval_ql.
    */
  private def qlScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = t(s, dir, "documents")
    val dl = docs.select(col("doc_id"), Text.nTokens(col("text")).as("dl"))
    val toks = docs
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("token"))
      .join(broadcast(bm25Terms.toDF("token")), "token")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val cf = toks.groupBy(col("token")).agg(count(lit(1)).as("cf"))
    val ctot = dl.agg(sum(col("dl")).as("ctot"))
    dl.crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "token"), "left")
      .crossJoin(broadcast(ctot))
      .withColumn("ts_micro", floor(
        log((coalesce(col("tf"), lit(0L)) +
          lit(2000.0) * col("cf") / col("ctot")) /
          (col("dl") + lit(2000.0))) * 1e6 + 0.5))
      .groupBy(col("doc_id"))
      .agg((sum(col("ts_micro")) / lit(1e6)).as("score"),
        count(col("tf")).as("n_terms_hit"))
  }

  /** RM3 expansion terms (Abdul-Jaleel et al. 2004's RM3 with uniform
    * feedback-document priors — the deterministic-integer simplification
    * documented at q_bm25_rm3): the 3 most frequent non-query tokens
    * across the top-5 first-pass BM25 docs, (count desc, token) order.
    */
  private def rm3Expansion(s: SparkSession, dir: String): DataFrame = {
    val fb = rankTop(bm25Scores(s, dir), "score", 5).select("doc_id")
    t(s, dir, "documents")
      .join(broadcast(fb), "doc_id")
      .select(explode(Text.tokens(col("text"))).as("token"))
      .filter(!col("token").isin(bm25Terms: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("fb_tf"))
      .orderBy(col("fb_tf").desc, col("token").asc).limit(3)
  }

  /** Top-k of `scored` by (scoreCol desc, doc_id) with a `rank` column —
    * limit FIRST (TakeOrderedAndProject, per-partition heaps), THEN the
    * rank window runs over just k rows, so the global window never sees
    * the corpus.
    */
  private def rankTop(scored: DataFrame, scoreCol: String,
      k: Int): DataFrame = {
    val w = Window.orderBy(col(scoreCol).desc, col("doc_id").asc)
    scored.orderBy(col(scoreCol).desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Merge duplicated l-gram START positions (doc_id, pos) into MAXIMAL
    * covered spans. An island breaks only where the next gram starts
    * STRICTLY PAST the position just after the running covered end
    * (equal-length intervals ⇒ the previous position's end is the running
    * max), so overlapping AND touching flags coalesce: flags at pos
    * {0, 2} with l=20 are ONE span [0, 21] — the naive pos−row_number
    * gaps-and-islands split them into two spans double-counting 18
    * tokens — and flags at {0, 20} (coverage touching, zero gap) are ONE
    * span [0, 39]. ONE definition for the within-corpus and cross-split
    * span queries.
    */
  private def spanMerge(flagged: DataFrame, l: Int,
      unit: String = "tokens"): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(w) + l, 1)
          .otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(l - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(l)).as(s"n_span_$unit"))
      .select("doc_id", "span_start", "span_end", s"n_span_$unit")
  }

  /** Drop every token of `docs` covered by a flagged l-gram span and
    * reassemble the survivor text in token order — running-max coverage
    * window, no token×span range join. ONE definition for the dedup and
    * decontamination rewrites.
    */
  private def coverageRewrite(docs: DataFrame, flagged: DataFrame,
      l: Int): DataFrame =
    coverageRewriteToks(docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .withColumn("pos", col("pos").cast("long")), flagged, l)

  /** [[coverageRewrite]] over an already-exploded (doc_id, pos, token)
    * stream — the shared body, so the C4 sentence-level rewrite reuses
    * the exact running-max coverage machinery at LINE granularity.
    */
  private def coverageRewriteToks(toks: DataFrame, flagged: DataFrame,
      l: Int): DataFrame = {
    val f = flagged.withColumn("fpos", col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(f, Seq("doc_id", "pos"), "left")
      .withColumn("cov_end",
        max(when(col("fpos").isNotNull, col("fpos") + lit(l - 1))).over(w))
      .withColumn("kept", col("cov_end").isNull || col("cov_end") < col("pos"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("token"))))),
          x => x("token")), " ").as("text_kept"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        count(when(!col("kept"), lit(1))).as("n_dropped"))
  }

  /** Per-doc unigram-LM scores feeding BOTH perplexity banding rows:
    * (doc_id, lang, n_tokens, sum_nano, mean6). Per-TYPE nano-unit token
    * scores → order-independent integer sum per doc → ONE IEEE division
    * rounded 6 (absorbs the 1-ulp ln drift the family tolerates
    * everywhere). The token stream stays (doc_id, tok) — lang joins back
    * at per-DOC granularity, never riding the explode.
    */
  private def perplexityPerDoc(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .localCheckpoint() // feeds the model agg AND the scoring join
    val model = tok.groupBy(col("tok")).agg(count(lit(1)).as("n_t"))
    val total = tok.agg(count(lit(1)).as("nn"))
    val scores = model.crossJoin(broadcast(total))
      .select(col("tok"),
        floor(log(col("nn").cast("double") / col("n_t")) * lit(1e9) +
          lit(0.5)).cast("long").as("s_nano"))
    tok.join(scores, "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_nano")).as("sum_nano"))
      .join(t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
      .withColumn("mean6", round(
        col("sum_nano").cast("double") / lit(1e9) / col("n_tokens"), 6))
  }

  /** DSIR importance weights for every raw-pool doc (see q_dsir_weights):
    * (doc_id, n_bigrams, dsir_w). One bigram→bucket stream feeds the two
    * class histograms and the scoring join → localCheckpoint (persist on a
    * cluster), same multi-consumer policy as the minhash family.
    */
  private def dsirScores(s: SparkSession, dir: String): DataFrame = {
    val target = "src18"
    val b = 64
    val feats = t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(Dedup.shingles(col("text"), n = 2)).as("bigram"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(concat(lit("dsir:"), col("bigram"))), 1, 4),
          16, 10).cast("long") % b).as("bucket"))
      .localCheckpoint()
    val pool = feats.filter(col("source") =!= target)
    val tCounts = feats.filter(col("source") === target)
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_t"))
    val rCounts = pool.groupBy(col("bucket")).agg(count(lit(1)).as("n_r"))
    val totals = feats.groupBy()
      .agg(sum(when(col("source") === target, 1L).otherwise(0L)).as("nt"),
        sum(when(col("source") =!= target, 1L).otherwise(0L)).as("nr"))
    // Every pool bucket exists in rCounts by construction, so LEFT JOIN
    // target counts (smoothed where absent) covers the full support.
    // Each per-bucket log ratio is floored to NANO-UNIT LONGS in the ≤64-row
    // ratio table, so the per-doc score is an order-independent integer sum
    // (a double sum over hundreds of lr terms is fold-order-dependent and
    // can land a weight on a .00005 rounding midpoint differently per
    // engine — the hazard bm25Scores/RRF/nDCG already eliminate this way).
    val ratio = rCounts.join(tCounts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        floor((log((coalesce(col("n_t"), lit(0L)) + lit(1)).cast("double") /
            (col("nt") + b)) -
          log((col("n_r") + lit(1)).cast("double") / (col("nr") + b))) *
          lit(1e9) + lit(0.5)).cast("long")
          .as("lr_nano"))
    pool.join(broadcast(ratio), "bucket")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("lr_nano")).cast("double") / lit(1e9) / count(lit(1)),
          4).as("dsir_w"))
  }

  /** DuckDB CTE chain ending in `w(doc_id, n_bigrams, dsir_w)` — mirrors
    * [[dsirScores]] (B=64 md5 bigram buckets, +1/(N+B) Laplace smoothing,
    * mean per-bigram log ratio); ONE definition for both DSIR oracles.
    */
  /** DuckDB twin of the Naive Bayes machinery: weak labels over the
    * hash split, train token counts, nano-unit per-type weights, scored
    * held-out docs. Mirrors nbKeep/nbWeights/nbScored formula-for-
    * formula (same divisions into ln, same floor(x·1e9 + 0.5) quantize),
    * so engine equality is per-TYPE on a vocabulary-sized table.
    * Depends on the `splits` CTE (splitsCte).
    */
  private val nbCtes =
    """nb_lab AS (
      |  SELECT d.doc_id, d.lang, s.split,
      |    NOT (nt < 30 OR nt > 400 OR ndist / nt < 0.2
      |      OR cl / nt < 2 OR cl / nt > 12) AS pos,
      |    d.text
      |  FROM (
      |    SELECT doc_id, lang, text,
      |      CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
      |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |        AS ndist,
      |      CAST(length(replace(text, ' ', '')) AS DOUBLE) AS cl
      |    FROM documents) d
      |  JOIN splits s ON s.doc_id = d.doc_id),
      |nb_cnt AS (
      |  SELECT tok,
      |    sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
      |    sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS cn
      |  FROM (SELECT pos, unnest(string_split(text, ' ')) AS tok
      |        FROM nb_lab WHERE split = 'train')
      |  GROUP BY 1),
      |nb_const AS (
      |  SELECT np, nn, v, dp, dn,
      |    CAST(floor((ln(1.0 / (np + v)) - ln(1.0 / (nn + v)))
      |      * 1000000000 + 0.5) AS BIGINT) AS w0,
      |    CAST(floor(ln(CAST(dp AS DOUBLE) / dn) * 1000000000 + 0.5)
      |      AS BIGINT) AS prior
      |  FROM (SELECT sum(cp) AS np, sum(cn) AS nn, count(*) AS v
      |        FROM nb_cnt),
      |       (SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS dp,
      |               sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS dn
      |        FROM nb_lab WHERE split = 'train')),
      |nb_w AS (
      |  SELECT tok, cp, cn,
      |    CAST(floor((ln((cp + 1.0) / (np + v)) - ln((cn + 1.0)
      |      / (nn + v))) * 1000000000 + 0.5) AS BIGINT) AS w_nano
      |  FROM nb_cnt, nb_const),
      |nb_scored AS (
      |  SELECT s.doc_id, s.lang, s.actual_pos,
      |    CAST(s.n_tokens AS BIGINT) AS n_tokens,
      |    CAST(s.n_oov AS BIGINT) AS n_oov,
      |    CAST(c.prior + s.sw + s.n_oov * c.w0 AS BIGINT) AS score_nano
      |  FROM (
      |    SELECT h.doc_id, h.lang, h.pos AS actual_pos,
      |      count(*) AS n_tokens,
      |      sum(COALESCE(w.w_nano, 0)) AS sw,
      |      sum(CASE WHEN w.w_nano IS NULL THEN 1 ELSE 0 END) AS n_oov
      |    FROM (SELECT doc_id, lang, pos,
      |            unnest(string_split(text, ' ')) AS tok
      |          FROM nb_lab WHERE split != 'train') h
      |    LEFT JOIN nb_w w ON w.tok = h.tok
      |    GROUP BY 1, 2, 3) s, nb_const c)""".stripMargin

  /** DuckDB twin of [[langidBest]] — same nano-unit multiclass NB, but
    * the argmax is an independent formulation (row_number over
    * (score DESC, mlang DESC) vs Spark's max(struct)), so a green row
    * proves both pick the same language. Ends in
    * `lid_best(doc_id, lang, pred_lang, score_nano, rn)`; consumers
    * filter rn = 1. Expects `splits` in scope.
    */
  /** One DuckDB gram-position list for [[chargramCtesFor]]: every
    * substring position i..i+n-1 of the raw text (spaces included), a
    * sub-n-char text contributing its single truncated gram — exactly
    * [[chargramHashes]]' arithmetic, on the STRINGS the Spark side
    * hashes (the twin's exact match is the injectivity proof).
    * range(1, k+1) because DuckDB range is end-exclusive.
    */
  private def gramListSql(n: Int): String =
    s"list_transform(range(1, greatest(length(text) - ${n - 1}, 1) + 1)," +
      s" i -> substring(text, CAST(i AS INTEGER), $n))"

  /** langidCtes with char-n-gram features over the gram lengths `ns`
    * (trigram-only for q_langid_chargram, 3-5 jointly for the
    * fastText-proper row).
    */
  private def chargramCtesFor(ns: Seq[Int]): String = {
    val toks = ns.map(gramListSql).reduce((a, b) => s"list_concat($a, $b)")
    val nTok =
      ns.map(n => s"greatest(length(text) - ${n - 1}, 1)").mkString(" + ")
    s"""cg_tr AS (
      |  SELECT d.lang AS mlang, d.text FROM documents d
      |  JOIN splits s ON s.doc_id = d.doc_id WHERE s.split = 'train'),
      |cg_cnt AS (
      |  SELECT mlang, tok, count(*) AS c FROM (
      |    SELECT mlang, unnest($toks) AS tok
      |    FROM cg_tr)
      |  GROUP BY 1, 2),
      |cg_tl AS (SELECT mlang, CAST(sum(c) AS BIGINT) AS tl
      |  FROM cg_cnt GROUP BY 1),
      |cg_v AS (SELECT count(DISTINCT tok) AS v FROM cg_cnt),
      |cg_dl AS (SELECT mlang, count(*) AS dl FROM cg_tr GROUP BY 1),
      |cg_dt AS (SELECT count(*) AS dt FROM cg_tr),
      |cg_lc AS (
      |  SELECT mlang,
      |    CAST(floor(ln(CAST(dl AS DOUBLE) / dt) * 1000000000 + 0.5)
      |      AS BIGINT) AS prior,
      |    CAST(floor(ln(1.0 / (tl + v)) * 1000000000 + 0.5) AS BIGINT)
      |      AS w0
      |  FROM cg_tl JOIN cg_dl USING (mlang), cg_v, cg_dt),
      |cg_w AS (
      |  SELECT tok, c.mlang,
      |    CAST(floor(ln((c + 1.0) / (tl + v)) * 1000000000 + 0.5)
      |      AS BIGINT) AS w_nano
      |  FROM cg_cnt c JOIN cg_tl USING (mlang), cg_v),
      |cg_nt AS (
      |  SELECT doc_id, lang,
      |    CAST($nTok AS BIGINT) AS n_tokens
      |  FROM documents),
      |cg_hit AS (
      |  SELECT t.doc_id, w.mlang, CAST(sum(w.w_nano) AS BIGINT) AS sw,
      |    count(*) AS n_hit
      |  FROM (SELECT doc_id, unnest($toks) AS tok
      |        FROM documents) t
      |  JOIN cg_w w ON w.tok = t.tok
      |  GROUP BY 1, 2),
      |cg_sc AS (
      |  SELECT n.doc_id, n.lang, l.mlang,
      |    CAST(l.prior + COALESCE(h.sw, 0)
      |      + (n.n_tokens - COALESCE(h.n_hit, 0)) * l.w0 AS BIGINT)
      |      AS score_nano
      |  FROM cg_nt n CROSS JOIN cg_lc l
      |  LEFT JOIN cg_hit h ON h.doc_id = n.doc_id AND h.mlang = l.mlang),
      |cg_best AS (
      |  SELECT doc_id, lang, mlang AS pred_lang, score_nano,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_nano DESC, mlang DESC) AS rn
      |  FROM cg_sc)""".stripMargin
  }

  private val chargramCtes = chargramCtesFor(Seq(3))
  private val chargram35Ctes = chargramCtesFor(Seq(3, 4, 5))

  private val langidCtes =
    """lid_tr AS (
      |  SELECT d.lang AS mlang, d.text FROM documents d
      |  JOIN splits s ON s.doc_id = d.doc_id WHERE s.split = 'train'),
      |lid_cnt AS (
      |  SELECT mlang, tok, count(*) AS c FROM (
      |    SELECT mlang, unnest(string_split(text, ' ')) AS tok
      |    FROM lid_tr)
      |  GROUP BY 1, 2),
      |lid_tl AS (SELECT mlang, CAST(sum(c) AS BIGINT) AS tl
      |  FROM lid_cnt GROUP BY 1),
      |lid_v AS (SELECT count(DISTINCT tok) AS v FROM lid_cnt),
      |lid_dl AS (SELECT mlang, count(*) AS dl FROM lid_tr GROUP BY 1),
      |lid_dt AS (SELECT count(*) AS dt FROM lid_tr),
      |lid_lc AS (
      |  SELECT mlang,
      |    CAST(floor(ln(CAST(dl AS DOUBLE) / dt) * 1000000000 + 0.5)
      |      AS BIGINT) AS prior,
      |    CAST(floor(ln(1.0 / (tl + v)) * 1000000000 + 0.5) AS BIGINT)
      |      AS w0
      |  FROM lid_tl JOIN lid_dl USING (mlang), lid_v, lid_dt),
      |lid_w AS (
      |  SELECT tok, c.mlang,
      |    CAST(floor(ln((c + 1.0) / (tl + v)) * 1000000000 + 0.5)
      |      AS BIGINT) AS w_nano
      |  FROM lid_cnt c JOIN lid_tl USING (mlang), lid_v),
      |lid_nt AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |lid_hit AS (
      |  SELECT t.doc_id, w.mlang, CAST(sum(w.w_nano) AS BIGINT) AS sw,
      |    count(*) AS n_hit
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents) t
      |  JOIN lid_w w ON w.tok = t.tok
      |  GROUP BY 1, 2),
      |lid_sc AS (
      |  SELECT n.doc_id, n.lang, l.mlang,
      |    CAST(l.prior + COALESCE(h.sw, 0)
      |      + (n.n_tokens - COALESCE(h.n_hit, 0)) * l.w0 AS BIGINT)
      |      AS score_nano
      |  FROM lid_nt n CROSS JOIN lid_lc l
      |  LEFT JOIN lid_hit h ON h.doc_id = n.doc_id AND h.mlang = l.mlang),
      |lid_best AS (
      |  SELECT doc_id, lang, mlang AS pred_lang, score_nano,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score_nano DESC, mlang DESC) AS rn
      |  FROM lid_sc)""".stripMargin

  /** DuckDB twin of q_dedup_url: the raw URLs are [[synthUrl]]'s exact
    * arithmetic, the canonical form is recomputed INDEPENDENTLY from
    * regexp string functions (no parse_url in DuckDB — which is the
    * point: hash-equality proves the two parsers agree on every rule).
    */
  private val urlCtes =
    """u AS (
      |  SELECT doc_id,
      |    concat(
      |      CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
      |      CASE WHEN doc_id % 4 = 0
      |        THEN upper('www.site' || (doc_id // 10) || '.example.com')
      |        ELSE 'www.site' || (doc_id // 10) || '.example.com' END,
      |      CASE WHEN doc_id % 10 = 7 THEN ':8080'
      |           WHEN doc_id % 6 = 0 THEN ':80'
      |           WHEN doc_id % 6 = 3 THEN ':443' ELSE '' END,
      |      '/docs/', (doc_id // 10),
      |      CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
      |      CASE WHEN doc_id % 7 = 0 THEN concat('?id=', (doc_id // 10),
      |             '&utm_source=feed&utm_campaign=sync')
      |           WHEN doc_id % 7 = 1 THEN '?utm_medium=rss'
      |           WHEN doc_id % 7 = 2 THEN concat('?ref=home&id=',
      |             (doc_id // 10))
      |           WHEN doc_id % 7 = 3 THEN concat('?id=', (doc_id // 10),
      |             '&page=2')
      |           WHEN doc_id % 7 = 4 THEN concat('?page=2&id=',
      |             (doc_id // 10))
      |           ELSE '' END,
      |      CASE WHEN doc_id % 11 = 0 THEN '#sec' || (doc_id % 3)
      |           ELSE '' END) AS url
      |  FROM documents),
      |uparts AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS proto,
      |    regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS auth,
      |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
      |    regexp_extract(url, '\?([^#]*)', 1) AS q
      |  FROM u),
      |unorm AS (
      |  SELECT doc_id, proto,
      |    lower(regexp_replace(auth, ':[0-9]+$', '')) AS host,
      |    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
      |    rtrim(path, '/') AS cpath,
      |    array_to_string(list_sort(list_filter(string_split(q, '&'), p ->
      |      NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid|ref)='))),
      |      '&') AS cq
      |  FROM uparts),
      |ucanon AS (
      |  SELECT doc_id,
      |    proto || '://' || host ||
      |    (CASE WHEN port <> '' AND NOT (proto = 'http' AND port = '80')
      |       AND NOT (proto = 'https' AND port = '443')
      |       THEN ':' || port ELSE '' END) ||
      |    cpath ||
      |    (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END) AS canon_url
      |  FROM unorm)""".stripMargin

  private val dsirCtes =
    """toksd AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, source, CAST(CONCAT('0x',
      |      substring(md5('dsir:' || bigram), 1, 4)) AS BIGINT) % 64 AS bucket
      |  FROM (
      |    SELECT doc_id, source, unnest(CASE WHEN len(t) >= 2
      |      THEN list_transform(range(1, len(t)),
      |             i -> array_to_string(t[i:i+1], ' '))
      |      ELSE [array_to_string(t, ' ')] END) AS bigram
      |    FROM toksd)),
      |tc AS (SELECT bucket, count(*) AS n_t FROM f
      |  WHERE source = 'src18' GROUP BY 1),
      |rc AS (SELECT bucket, count(*) AS n_r FROM f
      |  WHERE source != 'src18' GROUP BY 1),
      |tot AS (SELECT
      |    sum(CASE WHEN source = 'src18' THEN 1 ELSE 0 END) AS nt,
      |    sum(CASE WHEN source != 'src18' THEN 1 ELSE 0 END) AS nr FROM f),
      |ratio AS (
      |  SELECT rc.bucket,
      |    CAST(floor((ln((COALESCE(n_t, 0) + 1.0) / (nt + 64)) -
      |      ln((n_r + 1.0) / (nr + 64))) * 1000000000 + 0.5) AS BIGINT)
      |      AS lr_nano
      |  FROM rc LEFT JOIN tc USING (bucket) CROSS JOIN tot),
      |w AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    round(CAST(sum(lr_nano) AS BIGINT) / 1000000000.0 / count(*), 4)
      |      AS dsir_w
      |  FROM f JOIN ratio USING (bucket)
      |  WHERE source != 'src18'
      |  GROUP BY doc_id)""".stripMargin

  /** DuckDB CTE chain ending in `p(doc_id, score, n_terms_hit)` — mirrors
    * [[bm25Scores]] (term-filtered postings, micro-unit integer score
    * sum); ONE definition for the BM25 and RRF-fusion oracles.
    */
  /** DuckDB twin of [[synthLines]] — the same deterministic multi-line
    * derivation, word for word: lw-word slices, (doc_id+i)%3 terminal
    * punctuation, the %5 / %11 / %7 / %101 injection ladder, and the %13
    * prepended boilerplate header. Ends in a `sdoc(doc_id, lang, lines)`
    * CTE.
    */
  private val synthLinesCte =
    s"""slbase AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
      |    4 + doc_id % 5 AS lw
      |  FROM documents),
      |slines AS (
      |  SELECT doc_id, lang,
      |    list_transform(range(0, (len(toks) + lw - 1) // lw), i ->
      |      array_to_string(toks[(i * lw + 1):(i * lw + lw)], ' ') ||
      |      CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END) AS base
      |  FROM slbase),
      |sdoc AS (
      |  SELECT doc_id, lang,
      |    list_concat(
      |      CASE WHEN doc_id % 13 = 0 THEN
      |           [${headerLines.map(l => s"'$l'").mkString(", ")}]
      |           ELSE CAST([] AS VARCHAR[]) END,
      |    list_concat(list_concat(list_concat(list_concat(base,
      |      CASE WHEN doc_id % 5 = 0 THEN base[1:1]
      |           ELSE CAST([] AS VARCHAR[]) END),
      |      CASE WHEN doc_id % 11 = 0 THEN base[1:2]
      |           ELSE CAST([] AS VARCHAR[]) END),
      |      CASE WHEN doc_id % 7 = 0 THEN
      |           ['please enable javascript and accept our cookie policy']
      |           ELSE CAST([] AS VARCHAR[]) END),
      |      CASE WHEN doc_id % 101 = 0 THEN ['lorem ipsum { }']
      |           ELSE CAST([] AS VARCHAR[]) END)) AS lines
      |  FROM slines)""".stripMargin

  /** DuckDB twin of [[c4DupSpanStarts]] — expects the [[synthLinesCte]]
    * `sdoc` in scope; ends in `flagged(doc_id, pos)`. The keeper is the
    * rn=1 occurrence under (doc_id, pos) order per span digest — an
    * independent formulation of Spark's min(struct) argmin, so a green
    * row proves both pick the same survivor.
    */
  private val c4FlaggedCtes =
    """c4sp AS (
      |  SELECT doc_id, t.pos,
      |    md5(array_to_string(lines[t.pos+1:t.pos+3], chr(10))) AS h
      |  FROM sdoc, LATERAL (SELECT unnest(range(len(lines) - 2)) AS pos) t
      |  WHERE len(lines) >= 3),
      |flagged AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |    FROM c4sp)
      |  WHERE rn > 1)""".stripMargin

  private val bm25Ctes =
    """dl AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |    FROM documents)
      |  WHERE token IN ('spark', 'hash', 'merge')
      |  GROUP BY 1, 2),
      |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS n_corpus,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |sc AS (
      |  SELECT tf.doc_id,
      |    CAST(floor(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5))
      |      * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |      * 1000000 + 0.5) AS BIGINT) AS ts_micro
      |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token)
      |  CROSS JOIN st),
      |p AS (SELECT doc_id,
      |    CAST(sum(ts_micro) AS BIGINT) / 1000000.0 AS score,
      |    count(*) AS n_terms_hit
      |  FROM sc GROUP BY 1)""".stripMargin

  /** DuckDB twin of the RM3 chain: first-pass BM25 (micro-unit ordering
    * key — monotonic to the /1e6 score, so the top-5 matches rankTop),
    * uniform-prior expansion pick, weighted second pass with `// wdiv`
    * (== Spark's `div` on the nonnegative micro scores).
    */
  private val rm3Ctes =
    """rm_dl AS (SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |rm_tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |rm_st AS (SELECT count(*) AS n_corpus,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM rm_dl),
      |rm_tf1 AS (
      |  SELECT doc_id, token, count(*) AS tf FROM rm_tok
      |  WHERE token IN ('spark', 'hash', 'merge') GROUP BY 1, 2),
      |rm_df1 AS (SELECT token, count(*) AS df FROM rm_tf1 GROUP BY 1),
      |rm_p1 AS (
      |  SELECT tf.doc_id, CAST(sum(
      |      CAST(floor(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5))
      |        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |        * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS score_micro
      |  FROM rm_tf1 tf JOIN rm_dl USING (doc_id)
      |  JOIN rm_df1 USING (token) CROSS JOIN rm_st
      |  GROUP BY 1),
      |rm_fb AS (SELECT doc_id FROM rm_p1
      |          ORDER BY score_micro DESC, doc_id LIMIT 5),
      |rm_exp AS (
      |  SELECT token, count(*) AS fb_tf FROM rm_tok
      |  WHERE doc_id IN (SELECT doc_id FROM rm_fb)
      |    AND token NOT IN ('spark', 'hash', 'merge')
      |  GROUP BY 1 ORDER BY fb_tf DESC, token LIMIT 3),
      |rm_terms AS (
      |  SELECT token, 1 AS wdiv
      |  FROM (VALUES ('spark'), ('hash'), ('merge')) v(token)
      |  UNION ALL SELECT token, 2 FROM rm_exp),
      |rm_tf2 AS (
      |  SELECT k.doc_id, k.token, count(*) AS tf
      |  FROM rm_tok k JOIN rm_terms USING (token) GROUP BY 1, 2),
      |rm_df2 AS (SELECT token, count(*) AS df FROM rm_tf2 GROUP BY 1),
      |rm_p2 AS (
      |  SELECT tf.doc_id,
      |    CAST(sum(
      |      CAST(floor(ln(1.0 + (n_corpus - df + 0.5) / (df + 0.5))
      |        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |        * 1000000 + 0.5) AS BIGINT) // wdiv) AS BIGINT)
      |      / 1000000.0 AS score,
      |    count(*) AS n_terms_hit
      |  FROM rm_tf2 tf JOIN rm_dl USING (doc_id)
      |  JOIN rm_df2 USING (token) JOIN rm_terms USING (token)
      |  CROSS JOIN rm_st
      |  GROUP BY 1)""".stripMargin

  /** DuckDB twin of [[spanMerge]]: expects a `flagged(doc_id, pos)` CTE
    * in scope; islands break only strictly past the position after the
    * running covered end, so overlapping AND touching flags coalesce
    * exactly as in Spark.
    */
  private def spanMergeSql(l: Int, unit: String = "tokens"): String =
    s"""runs AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
      |      + $l THEN 1 ELSE 0 END AS brk
      |  FROM flagged),
      |isl AS (
      |  SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
      |    ROWS UNBOUNDED PRECEDING) AS island
      |  FROM runs)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + ${l - 1} AS span_end,
      |  max(pos) - min(pos) + $l AS n_span_$unit
      |FROM isl GROUP BY doc_id, island""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_dsir_weights" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, n_bigrams, dsir_w FROM w""".stripMargin,

    "q_dsir_selected" ->
      s"""WITH $dsirCtes
        |SELECT doc_id, dsir_w FROM w
        |ORDER BY dsir_w DESC, doc_id LIMIT 50""".stripMargin,

    "q_decontam_spans" ->
      s"""WITH $splitsCte,
        |lt AS (SELECT d.doc_id, string_split(text, ' ') AS l, s.split
        |  FROM documents d JOIN splits s USING (doc_id)),
        |grams AS (
        |  SELECT doc_id, t.pos,
        |    md5(array_to_string(l[t.pos+1:t.pos+5], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 4)) AS pos) t
        |  WHERE len(l) >= 5 AND split = 'train'),
        |eg AS (
        |  SELECT DISTINCT md5(array_to_string(l[t.pos+1:t.pos+5], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 4)) AS pos) t
        |  WHERE len(l) >= 5 AND split != 'train'),
        |flagged AS (
        |  SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM eg)),
        |${spanMergeSql(5)}""".stripMargin,

    "q_decontam_spans_kept" ->
      s"""WITH $splitsCte,
        |lt AS (SELECT d.doc_id, string_split(text, ' ') AS l, s.split
        |  FROM documents d JOIN splits s USING (doc_id)),
        |grams AS (
        |  SELECT doc_id, t.pos,
        |    md5(array_to_string(l[t.pos+1:t.pos+5], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 4)) AS pos) t
        |  WHERE len(l) >= 5 AND split = 'train'),
        |eg AS (
        |  SELECT DISTINCT md5(array_to_string(l[t.pos+1:t.pos+5], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 4)) AS pos) t
        |  WHERE len(l) >= 5 AND split != 'train'),
        |flagged AS (
        |  SELECT doc_id, pos FROM grams WHERE h IN (SELECT h FROM eg)),
        |toks AS (
        |  SELECT doc_id, unnest(l) AS token, unnest(range(len(l))) AS pos
        |  FROM lt WHERE split = 'train'),
        |cover AS (
        |  SELECT t.doc_id, t.pos, t.token,
        |    max(CASE WHEN f.pos IS NOT NULL THEN f.pos + 4 END)
        |      OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |            ROWS UNBOUNDED PRECEDING) AS cov_end
        |  FROM toks t LEFT JOIN flagged f
        |    ON t.doc_id = f.doc_id AND t.pos = f.pos)
        |SELECT doc_id,
        |  coalesce(string_agg(
        |    CASE WHEN cov_end IS NULL OR cov_end < pos THEN token END,
        |    ' ' ORDER BY pos), '') AS text_kept,
        |  count(*) FILTER (WHERE cov_end IS NULL OR cov_end < pos)
        |    AS n_kept,
        |  count(*) FILTER (WHERE cov_end IS NOT NULL AND cov_end >= pos)
        |    AS n_dropped
        |FROM cover GROUP BY doc_id""".stripMargin,

    "q_mixture_unimax" ->
      """WITH bys AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(avail) AS BIGINT) AS total, count(*) AS l
        |  FROM bys),
        |ranked AS (
        |  SELECT source, avail, total, l,
        |    CAST(row_number() OVER (ORDER BY avail ASC, source ASC)
        |      AS BIGINT) AS r,
        |    COALESCE(CAST(sum(avail) OVER (ORDER BY avail ASC, source ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |      0) AS cum_prev,
        |    total // 2 AS budget
        |  FROM bys CROSS JOIN tot),
        |b AS (SELECT *,
        |    avail * (l - r + 1) > (budget - cum_prev) AS bind
        |  FROM ranked),
        |k AS (SELECT min(r) AS bind_r FROM b WHERE bind),
        |th AS (
        |  SELECT b.r AS bind_r, (budget - cum_prev) // (l - r + 1) AS theta
        |  FROM b JOIN k ON b.r = k.bind_r),
        |alloc AS (
        |  SELECT source, avail,
        |    CASE WHEN th.bind_r IS NULL OR b.r < th.bind_r THEN avail
        |         ELSE least(avail, th.theta) END AS alloc_toks
        |  FROM b LEFT JOIN th ON true)
        |SELECT source, avail AS n_toks, alloc_toks,
        |  round(CAST(alloc_toks AS DOUBLE) / avail, 4) AS rate,
        |  alloc_toks < avail AS capped
        |FROM alloc""".stripMargin,

    "q_rm3_terms" ->
      s"""WITH $rm3Ctes
        |SELECT token, CAST(fb_tf AS BIGINT) AS fb_tf FROM rm_exp"""
        .stripMargin,

    "q_bm25_rm3" ->
      s"""WITH $rm3Ctes,
        |rm_top AS (SELECT doc_id, score, CAST(n_terms_hit AS BIGINT)
        |    AS n_terms_hit
        |  FROM rm_p2 ORDER BY score DESC, doc_id LIMIT 10)
        |SELECT doc_id, score, n_terms_hit,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS rank
        |FROM rm_top""".stripMargin,

    "q_bm25_topk" ->
      s"""WITH $bm25Ctes
        |SELECT doc_id, score, n_terms_hit,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
        |    AS rank
        |FROM p ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_pack_chunks" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT lang, n,
        |    sum(n) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST((max(cum) + 511) // 512 AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN (cum - n) // 512 != (cum - 1) // 512
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs,
        |  CAST((max(cum) + 511) // 512 * 512 - sum(n) AS BIGINT)
        |    AS waste_tokens
        |FROM c GROUP BY 1""".stripMargin,

    // Unrolled 5-round greedy twin: per round, argmax of 7·rn − 3·max
    // sim-to-selected over the not-yet-selected candidates (scalar
    // subqueries over the ≤20-row CTEs — driver-trivial on both
    // engines), ties on doc_id via the ORDER BY ... LIMIT 1.
    "q_mmr_rerank" ->
      (s"""WITH $bm25Ctes,
        |topc AS (
        |  SELECT doc_id, CAST(floor(score * 1000000 + 0.5) AS BIGINT)
        |    AS rel_micro
        |  FROM p ORDER BY score DESC, doc_id LIMIT 20),
        |rnn AS (SELECT doc_id, rel_micro * 1000000000
        |    // (SELECT max(rel_micro) FROM topc) AS rn FROM topc),
        |ee AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM topc)),
        |cc AS (SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(range(1, len(v) + 1),
        |      i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
        |  FROM ee),
        |simsm AS (
        |  SELECT a.vec_id AS da, b.vec_id AS db,
        |    CAST(floor(round(list_reduce(list_transform(
        |        range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
        |        (x, y) -> x + y) / (a.nrm * b.nrm), 6)
        |      * 1000000000 + 0.5) AS BIGINT) AS sim_nano
        |  FROM cc a, cc b WHERE a.vec_id != b.vec_id),
        |s1 AS (SELECT doc_id, 7 * rn AS mmr FROM rnn
        |  ORDER BY mmr DESC, doc_id LIMIT 1),
        |sel1 AS (SELECT doc_id FROM s1)""" +
        (2 to 5).map(i => s""",
        |s$i AS (
        |  SELECT r.doc_id, 7 * r.rn - 3 * COALESCE((
        |      SELECT max(sim_nano) FROM simsm
        |      WHERE da = r.doc_id
        |        AND db IN (SELECT doc_id FROM sel${i - 1})), 0) AS mmr
        |  FROM rnn r
        |  WHERE r.doc_id NOT IN (SELECT doc_id FROM sel${i - 1})
        |  ORDER BY mmr DESC, doc_id LIMIT 1),
        |sel$i AS (SELECT doc_id FROM sel${i - 1}
        |  UNION ALL SELECT doc_id FROM s$i)""").mkString + """
        |SELECT * FROM (""" +
        (1 to 5).map(i =>
          s"""
        |  SELECT CAST($i AS BIGINT) AS rank, doc_id,
        |    CAST(mmr AS BIGINT) AS mmr_nano FROM s$i""")
          .mkString("\n        |  UNION ALL") + """
        |)""").stripMargin,

    "q_retrieval_ql" ->
      """WITH dl AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
        |  WHERE token IN ('spark', 'hash', 'merge') GROUP BY 1, 2),
        |cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tf GROUP BY 1),
        |ct AS (SELECT CAST(sum(dl) AS BIGINT) AS ctot FROM dl),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(floor(ln((COALESCE(tf.tf, 0) + 2000.0 * cf.cf / ct.ctot)
        |      / (d.dl + 2000.0)) * 1000000 + 0.5) AS BIGINT) AS ts_micro,
        |    CASE WHEN tf.tf IS NULL THEN 0 ELSE 1 END AS hit
        |  FROM dl d CROSS JOIN cf CROSS JOIN ct
        |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.token = cf.token),
        |p AS (SELECT doc_id,
        |    CAST(sum(ts_micro) AS BIGINT) / 1000000.0 AS score,
        |    CAST(sum(hit) AS BIGINT) AS n_terms_hit
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, score, n_terms_hit,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
        |    AS rank
        |FROM p ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
        |lexr AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS lex_rank
        |  FROM p ORDER BY score DESC, doc_id LIMIT 20),
        |e2 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |c2 AS (
        |  SELECT vec_id, v,
        |    sqrt(list_reduce(list_transform(range(1, len(v) + 1),
        |      i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
        |  FROM e2),
        |dsc AS (
        |  SELECT n.vec_id AS doc_id,
        |    round(list_reduce(list_transform(range(1, len(n.v) + 1),
        |        i -> n.v[i] * q.v[i]), (x, y) -> x + y)
        |      / (n.nrm * q.nrm), 6) AS score
        |  FROM c2 n, c2 q WHERE q.vec_id = 0 AND n.vec_id != 0),
        |denser AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS dense_rank
        |  FROM dsc ORDER BY score DESC, doc_id LIMIT 20),
        |fused AS (
        |  SELECT doc_id, lex_rank, dense_rank,
        |    COALESCE(CAST(floor(1000000000.0 / (lex_rank + 60)) AS BIGINT), 0)
        |    + COALESCE(CAST(floor(1000000000.0 / (dense_rank + 60)) AS BIGINT),
        |        0) AS rrf_nano
        |  FROM lexr FULL OUTER JOIN denser USING (doc_id))
        |SELECT doc_id, rrf_nano, lex_rank, dense_rank
        |FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT 10""".stripMargin,

    "q_dedup_substring" ->
      s"""WITH lt AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |grams AS (
        |  SELECT doc_id, t.pos, md5(array_to_string(l[t.pos+1:t.pos+20], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 19)) AS pos) t
        |  WHERE len(l) >= 20),
        |flagged AS (
        |  SELECT doc_id, pos
        |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n FROM grams)
        |  WHERE n >= 2),
        |${spanMergeSql(20)}""".stripMargin,

    "q_dedup_c4_spans" ->
      s"""WITH $synthLinesCte,
        |$c4FlaggedCtes,
        |${spanMergeSql(3, "lines")}""".stripMargin,

    "q_dedup_c4_kept" ->
      s"""WITH $synthLinesCte,
        |$c4FlaggedCtes,
        |toks AS (
        |  SELECT doc_id, unnest(lines) AS token,
        |    unnest(range(len(lines))) AS pos
        |  FROM sdoc),
        |cover AS (
        |  SELECT t.doc_id, t.pos, t.token,
        |    max(CASE WHEN f.pos IS NOT NULL THEN f.pos + 2 END)
        |      OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |            ROWS UNBOUNDED PRECEDING) AS cov_end
        |  FROM toks t LEFT JOIN flagged f
        |    ON t.doc_id = f.doc_id AND t.pos = f.pos)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN cov_end IS NULL OR cov_end < pos
        |    THEN token END, ' ' ORDER BY pos), '') AS text_kept,
        |  count(*) FILTER (WHERE cov_end IS NULL OR cov_end < pos)
        |    AS n_kept,
        |  count(*) FILTER (WHERE cov_end IS NOT NULL AND cov_end >= pos)
        |    AS n_dropped
        |FROM cover GROUP BY doc_id""".stripMargin,

    "q_dedup_substring_kept" ->
      """WITH lt AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
        |grams AS (
        |  SELECT doc_id, t.pos, md5(array_to_string(l[t.pos+1:t.pos+20], ' ')) AS h
        |  FROM lt, LATERAL (SELECT unnest(range(len(l) - 19)) AS pos) t
        |  WHERE len(l) >= 20),
        |flagged AS (
        |  SELECT doc_id, pos
        |  FROM (SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS n FROM grams)
        |  WHERE n >= 2),
        |toks AS (
        |  SELECT doc_id, unnest(l) AS token, unnest(range(len(l))) AS pos FROM lt),
        |cover AS (
        |  SELECT t.doc_id, t.pos, t.token,
        |    max(CASE WHEN f.pos IS NOT NULL THEN f.pos + 19 END)
        |      OVER (PARTITION BY t.doc_id ORDER BY t.pos
        |            ROWS UNBOUNDED PRECEDING) AS cov_end
        |  FROM toks t LEFT JOIN flagged f ON t.doc_id = f.doc_id AND t.pos = f.pos)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN cov_end IS NULL OR cov_end < pos THEN token END,
        |    ' ' ORDER BY pos), '') AS text_kept,
        |  count(*) FILTER (WHERE cov_end IS NULL OR cov_end < pos) AS n_kept,
        |  count(*) FILTER (WHERE cov_end IS NOT NULL AND cov_end >= pos) AS n_dropped
        |FROM cover GROUP BY doc_id""".stripMargin,

    "q_text_stats" ->
      """WITH x AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        |y AS (
        |  SELECT doc_id, text,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
        |      AS n_regex_tokens,
        |    len(list_filter(toks,
        |      x -> list_contains(['the','a','of','and','to'], x))) AS s_en,
        |    len(list_filter(toks,
        |      x -> list_contains(['el','la','de','los','y'], x))) AS s_es,
        |    len(list_filter(toks,
        |      x -> list_contains(['der','die','das','und','ist'], x))) AS s_de,
        |    len(list_filter(toks,
        |      x -> list_contains(['le','les','et','des','une'], x))) AS s_fr
        |  FROM x)
        |SELECT doc_id, n_tokens, n_distinct_tokens, n_regex_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / n_tokens, 4)
        |    AS avg_token_len,
        |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_id,
        |  round(0.5 * least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0)
        |      + 0.3 * least(CAST(s_en AS DOUBLE) / n_tokens * 10.0, 1.0)
        |      + 0.2 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens), 4)
        |    AS quality,
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM y""".stripMargin,

    "q_sample_det" ->
      """SELECT doc_id FROM (
        |  SELECT doc_id, md5('sample:' || CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents ORDER BY sk, doc_id LIMIT 50)""".stripMargin,

    "q_sample_weighted" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    CAST(n_chars AS DOUBLE) / CAST(CAST(CONCAT('0x', substring(
        |      md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
        |      + 1 AS DOUBLE) AS pri
        |  FROM documents ORDER BY pri DESC, doc_id LIMIT 50)""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(CONCAT('0x', substring(md5(
        |    'strat:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4))
        |    AS BIGINT) % 100
        |  < CASE WHEN lang = 'en' THEN 20 ELSE 100 END""".stripMargin,

    "q_quality_filter" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      AS ndist,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS cl
        |  FROM documents),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN nt < 30 THEN 'too_short'
        |         WHEN nt > 400 THEN 'too_long'
        |         WHEN ndist / nt < 0.2 THEN 'low_diversity'
        |         WHEN cl / nt < 2 OR cl / nt > 12 THEN 'weird_tokens'
        |         ELSE 'keep' END AS reason
        |  FROM f)
        |SELECT lang, reason, count(*) AS n_docs
        |FROM r GROUP BY 1, 2""".stripMargin,

    "q_quality_gopher" ->
      """WITH d AS (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS l
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(l) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l)
        |      AS mean_raw,
        |    CAST(len(list_filter(l,
        |      tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS n_ell,
        |    CAST(len(list_intersect(list_distinct(l),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_stop
        |  FROM d)
        |SELECT doc_id, lang, n_words,
        |  round(mean_raw, 4) AS mean_word_len, n_stop,
        |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
        |  mean_raw >= 3 AND mean_raw <= 10 AS r_mean_len,
        |  CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS r_alpha,
        |  CAST(n_hash AS DOUBLE) / n_words <= 0.1 AND
        |    CAST(n_ell AS DOUBLE) / n_words <= 0.1 AS r_symbol,
        |  n_stop >= 2 AS r_stop,
        |  (n_words >= 50 AND n_words <= 100000) AND
        |    (mean_raw >= 3 AND mean_raw <= 10) AND
        |    (CAST(n_alpha AS DOUBLE) / n_words >= 0.8) AND
        |    (CAST(n_hash AS DOUBLE) / n_words <= 0.1 AND
        |     CAST(n_ell AS DOUBLE) / n_words <= 0.1) AND
        |    n_stop >= 2 AS keep
        |FROM m""".stripMargin,

    "q_quality_gopher_lines" ->
      (s"""WITH $synthLinesCte,
        |gm AS (
        |  SELECT doc_id, lang, lines,
        |    list_transform(range(0, (len(lines) + 1) // 2), j ->
        |      array_to_string(lines[(j * 2 + 1):(j * 2 + 2)], ' '))
        |      AS paras
        |  FROM sdoc),
        |gq AS (
        |  SELECT doc_id, lang,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT)
        |      AS n_dup_lines,
        |    CAST(list_reduce(list_transform(lines, x -> length(x)),
        |      (a, b) -> a + b) AS BIGINT) AS chars_lines,
        |    CAST(list_reduce(list_transform(list_distinct(lines),
        |      x -> length(x)), (a, b) -> a + b) AS BIGINT) AS cd_lines,
        |    CAST(len(paras) AS BIGINT) AS n_paras,
        |    CAST(len(paras) - len(list_distinct(paras)) AS BIGINT)
        |      AS n_dup_paras,
        |    CAST(list_reduce(list_transform(paras, x -> length(x)),
        |      (a, b) -> a + b) AS BIGINT) AS chars_paras,
        |    CAST(list_reduce(list_transform(list_distinct(paras),
        |      x -> length(x)), (a, b) -> a + b) AS BIGINT) AS cd_paras
        |  FROM gm)
        |SELECT doc_id, lang,
        |  n_lines, n_dup_lines,
        |  chars_lines - cd_lines AS dup_lines_chars,
        |  round(CAST(n_dup_lines AS DOUBLE) / n_lines, 4)
        |    AS dup_lines_frac,
        |  n_dup_lines * 10 <= n_lines * 3 AS r_dup_lines,
        |  (chars_lines - cd_lines) * 5 <= chars_lines
        |    AS r_dup_lines_chars,
        |  n_paras, n_dup_paras,
        |  chars_paras - cd_paras AS dup_paras_chars,
        |  round(CAST(n_dup_paras AS DOUBLE) / n_paras, 4)
        |    AS dup_paras_frac,
        |  n_dup_paras * 10 <= n_paras * 3 AS r_dup_paras,
        |  (chars_paras - cd_paras) * 5 <= chars_paras
        |    AS r_dup_paras_chars,
        |  (n_dup_lines * 10 <= n_lines * 3) AND
        |    ((chars_lines - cd_lines) * 5 <= chars_lines) AND
        |    (n_dup_paras * 10 <= n_paras * 3) AND
        |    ((chars_paras - cd_paras) * 5 <= chars_paras) AS keep
        |FROM gq""").stripMargin,

    "q_quality_c4" ->
      (s"""WITH $synthLinesCte,
        |cq AS (
        |  SELECT doc_id, lang,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l ->
        |      right(l, 1) NOT IN ('.', '!', '?', '"'))) AS BIGINT)
        |      AS n_unpunct_lines,
        |    CAST(len(list_filter(lines, l ->
        |      len(string_split(l, ' ')) < 3)) AS BIGINT) AS n_short_lines,
        |    CAST(len(list_filter(lines, l -> contains(l, 'javascript')
        |      OR contains(l, 'cookie'))) AS BIGINT) AS n_policy_lines,
        |    CAST(len(list_filter(lines, l ->
        |      right(l, 1) IN ('.', '!', '?', '"') AND
        |      len(string_split(l, ' ')) >= 3 AND
        |      NOT (contains(l, 'javascript') OR contains(l, 'cookie'))))
        |      AS BIGINT) AS n_kept_lines,
        |    len(list_filter(lines, l -> contains(l, 'lorem ipsum'))) > 0
        |      AS has_lorem,
        |    len(list_filter(lines, l -> contains(l, '{'))) > 0 AS has_brace
        |  FROM sdoc)
        |SELECT doc_id, lang, n_lines, n_unpunct_lines, n_short_lines,
        |  n_policy_lines, n_kept_lines, has_lorem, has_brace,
        |  n_kept_lines >= 5 AND NOT has_lorem AND NOT has_brace
        |    AS keep_page
        |FROM cq""").stripMargin,

    "q_nb_scores" ->
      s"""WITH $splitsCte,
        |$nbCtes
        |SELECT doc_id, n_tokens, n_oov, score_nano,
        |  score_nano > 0 AS predicted
        |FROM nb_scored""".stripMargin,

    "q_nb_auc" ->
      s"""WITH $splitsCte,
        |$nbCtes,
        |per_s AS (
        |  SELECT lang, score_nano, count(*) AS ns,
        |    sum(CASE WHEN actual_pos THEN 1 ELSE 0 END) AS nps
        |  FROM nb_scored GROUP BY 1, 2),
        |cumd AS (
        |  SELECT lang, ns, nps,
        |    COALESCE(sum(ns) OVER (PARTITION BY lang ORDER BY score_nano
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cumb
        |  FROM per_s),
        |aggd AS (
        |  SELECT lang, CAST(sum(nps) AS BIGINT) AS n_pos,
        |    CAST(sum(ns) - sum(nps) AS BIGINT) AS n_neg,
        |    CAST(sum(nps * (2 * cumb + ns + 1)) AS BIGINT) AS two_mid
        |  FROM cumd GROUP BY 1)
        |SELECT lang, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(CAST(two_mid - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (2.0 * n_pos * n_neg), 4) END AS auc
        |FROM aggd""".stripMargin,

    "q_chi2_features" ->
      s"""WITH $splitsCte,
        |$nbCtes,
        |x AS (
        |  SELECT tok, CAST(cp AS BIGINT) AS cp, CAST(cn AS BIGINT) AS cn,
        |    CAST(cp AS DOUBLE) * CAST(nn - cn AS DOUBLE)
        |      - CAST(cn AS DOUBLE) * CAST(np - cp AS DOUBLE) AS adbc,
        |    np, nn
        |  FROM nb_cnt, nb_const)
        |SELECT tok, cp, cn,
        |  round(CAST(np + nn AS DOUBLE) * adbc * adbc
        |    / (CAST(cp + cn AS DOUBLE)
        |      * CAST(np - cp + nn - cn AS DOUBLE)
        |      * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 4) AS chi2
        |FROM x
        |ORDER BY chi2 DESC, tok LIMIT 15""".stripMargin,

    // Cells as exact integers; each measure ONE IEEE division rounded to
    // 4 (F1 = 2·tp/(2·tp+fp+fn), never a composition of rounded values).
    "q_nb_eval" ->
      s"""WITH $splitsCte,
        |$nbCtes,
        |cells AS (
        |  SELECT
        |    sum(CASE WHEN score_nano > 0 AND actual_pos
        |        THEN 1 ELSE 0 END) AS tp,
        |    sum(CASE WHEN score_nano > 0 AND NOT actual_pos
        |        THEN 1 ELSE 0 END) AS fp,
        |    sum(CASE WHEN score_nano <= 0 AND actual_pos
        |        THEN 1 ELSE 0 END) AS fn,
        |    sum(CASE WHEN score_nano <= 0 AND NOT actual_pos
        |        THEN 1 ELSE 0 END) AS tn
        |  FROM nb_scored)
        |SELECT CAST(tp AS BIGINT) AS n_tp, CAST(fp AS BIGINT) AS n_fp,
        |  CAST(fn AS BIGINT) AS n_fn, CAST(tn AS BIGINT) AS n_tn,
        |  CASE WHEN tp + tn + fp + fn > 0 THEN
        |    round(CAST(tp + tn AS DOUBLE) / (tp + tn + fp + fn), 4)
        |    ELSE 0.0 END AS accuracy,
        |  CASE WHEN tp + fp > 0 THEN
        |    round(CAST(tp AS DOUBLE) / (tp + fp), 4) ELSE 0.0 END AS prec,
        |  CASE WHEN tp + fn > 0 THEN
        |    round(CAST(tp AS DOUBLE) / (tp + fn), 4) ELSE 0.0 END AS rec,
        |  CASE WHEN tp * 2 + fp + fn > 0 THEN
        |    round(CAST(tp * 2 AS DOUBLE) / (tp * 2 + fp + fn), 4)
        |    ELSE 0.0 END AS f1
        |FROM cells""".stripMargin,

    "q_nb_calibration" ->
      s"""WITH $splitsCte,
        |$nbCtes
        |SELECT CAST(floor(score_nano / 500000000.0) AS BIGINT) AS band,
        |  count(*) AS n_docs,
        |  CAST(sum(CASE WHEN actual_pos THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pos,
        |  round(CAST(sum(CASE WHEN actual_pos THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 4) AS pos_rate
        |FROM nb_scored GROUP BY 1""".stripMargin,

    "q_nb_top_features" ->
      s"""WITH $splitsCte,
        |$nbCtes
        |SELECT * FROM (
        |  SELECT tok, CAST(cp AS BIGINT) AS cp, CAST(cn AS BIGINT) AS cn,
        |    w_nano, 'pos' AS side
        |  FROM nb_w ORDER BY w_nano DESC, tok LIMIT 15)
        |UNION ALL
        |SELECT * FROM (
        |  SELECT tok, CAST(cp AS BIGINT) AS cp, CAST(cn AS BIGINT) AS cn,
        |    w_nano, 'neg' AS side
        |  FROM nb_w ORDER BY w_nano ASC, tok LIMIT 15)""".stripMargin,

    "q_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(CONCAT('0x', substring(
        |      md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 90 THEN 'train'
        |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM b GROUP BY 1""".stripMargin,

    "q_vocab_topk" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,

    // Exact-capacity sketch == exact counts, so the twin IS the exact
    // query's SQL.
    "q_vocab_topk_approx" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 50""".stripMargin,

    // Unrolled-CTE twin of the Spark driver loop: v0 is the char-split
    // word-frequency table; each round counts adjacent pairs (unnest over
    // 1..len-1, the kmeans-step idiom), picks the (cnt DESC, a, b) argmax,
    // and applies it with the same literal replace on the bracketed repr.
    "q_bpe_merges" ->
      (s"WITH ${bpeCtes(8)}\n" +
        (1 to 8).map(r =>
          s"SELECT CAST($r AS BIGINT) AS step, a AS sym_a, b AS sym_b," +
            s" cnt AS pair_count FROM m$r").mkString("\nUNION ALL\n")),

    "q_bpe_apply" ->
      (s"WITH ${bpeCtes(8)}\n" +
        """SELECT word, CAST(freq AS BIGINT) AS freq,
          |  CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |    AS n_pieces,
          |  repr AS pieces
          |FROM v8""".stripMargin),

    "q_bpe_fertility" ->
      (s"WITH ${bpeCtes(8)},\n" +
        """wrds AS (
          |  SELECT lang,
          |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          |  FROM documents),
          |seg AS (
          |  SELECT word,
          |    CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |      AS n_pieces
          |  FROM v8)
          |SELECT lang, count(*) AS n_words,
          |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
          |  round(CAST(sum(n_pieces) AS DOUBLE) / count(*), 4) AS fertility
          |FROM wrds JOIN seg USING (word)
          |GROUP BY 1""".stripMargin),

    "q_bpe_doc_tokens" ->
      (s"WITH ${bpeCtes(8)},\n" +
        """wrds AS (
          |  SELECT doc_id,
          |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          |  FROM documents),
          |seg AS (
          |  SELECT word,
          |    CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |      AS n_pieces
          |  FROM v8)
          |SELECT doc_id, count(*) AS n_words,
          |  CAST(sum(n_pieces) AS BIGINT) AS n_bpe_tokens
          |FROM wrds JOIN seg USING (word)
          |GROUP BY 1""".stripMargin),

    "q_unigram_tok_vocab" ->
      (s"WITH RECURSIVE $unigramCtes\n" +
        """SELECT p.piece, CAST(length(p.piece) AS BIGINT) AS piece_len,
          |  COALESCE(u.cnt, 0) AS cnt, p.cost AS cost_micro
          |FROM up2 p LEFT JOIN uuse2 u USING (piece)""".stripMargin),

    "q_unigram_tok_apply" ->
      (s"WITH RECURSIVE $unigramCtes\n" +
        """SELECT word, CAST(freq AS BIGINT) AS freq,
          |  cost AS cost_micro,
          |  CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |    AS n_pieces,
          |  repr AS pieces
          |FROM ubest2""".stripMargin),

    "q_unigram_tok_fertility" ->
      (s"WITH RECURSIVE $unigramCtes,\n" +
        """wrds AS (
          |  SELECT lang,
          |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          |  FROM documents),
          |useg AS (
          |  SELECT word,
          |    CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |      AS n_pieces
          |  FROM ubest2)
          |SELECT lang, count(*) AS n_words,
          |  CAST(sum(n_pieces) AS BIGINT) AS n_pieces,
          |  round(CAST(sum(n_pieces) AS DOUBLE) / count(*), 4)
          |    AS fertility
          |FROM wrds JOIN useg USING (word)
          |GROUP BY 1""".stripMargin),

    "q_unigram_doc_tokens" ->
      (s"WITH RECURSIVE $unigramCtes,\n" +
        """wrds AS (
          |  SELECT doc_id,
          |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
          |  FROM documents),
          |useg AS (
          |  SELECT word,
          |    CAST(len(str_split(trim(repr, '[]'), '][')) AS BIGINT)
          |      AS n_pieces
          |  FROM ubest2)
          |SELECT doc_id, count(*) AS n_words,
          |  CAST(sum(n_pieces) AS BIGINT) AS n_unigram_tokens
          |FROM wrds JOIN useg USING (word)
          |GROUP BY 1""".stripMargin),

    "q_length_batches" ->
      """WITH tk AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket FROM tk),
        |c AS (
        |  SELECT bucket, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY n_tokens, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS bfr
        |  FROM b)
        |SELECT bucket, CAST(bfr // 2048 AS BIGINT) AS batch_id,
        |  count(*) AS n_seqs, max(n_tokens) AS max_len,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  round(CAST(1 AS DOUBLE) - CAST(sum(n_tokens) AS DOUBLE)
        |    / (max(n_tokens) * count(*)), 4) AS padding_frac
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q_entropy" ->
      """WITH c AS (
        |  SELECT lang, tok, count(*) AS n FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  round(ln(CAST(sum(n) AS DOUBLE)) -
        |    sum(n * ln(n)) / sum(n), 4) AS entropy_nats
        |FROM c GROUP BY lang""".stripMargin,

    "q_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, nt,
        |    CASE WHEN nt <= 32 THEN 1
        |      ELSE 1 + CAST(ceil((nt - 32) / 24.0) AS BIGINT) END
        |      AS n_chunks
        |  FROM d),
        |e AS (
        |  SELECT doc_id, nt,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  least(32, nt - chunk_idx * 24) AS chunk_tokens
        |FROM e""".stripMargin,

    "q_oov_rate" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tk
        |  FROM documents),
        |v AS (
        |  SELECT tk FROM (SELECT tk, count(*) AS n FROM tok GROUP BY 1)
        |  WHERE n >= 50)
        |SELECT lang, count(*) AS n_tokens,
        |  count(CASE WHEN v.tk IS NULL THEN 1 END) AS n_oov,
        |  round(count(CASE WHEN v.tk IS NULL THEN 1 END) /
        |    CAST(count(*) AS DOUBLE), 4) AS oov_rate
        |FROM tok LEFT JOIN v USING (tk)
        |GROUP BY lang""".stripMargin,

    "q_kl_sources" ->
      """WITH st AS (
        |  SELECT source, tok, count(*) AS n_st FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (SELECT tok, sum(n_st) AS n_t FROM st GROUP BY 1),
        |s AS (SELECT source, sum(n_st) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT sum(n_st) AS nn FROM st)
        |SELECT st.source, CAST(s.n_s AS BIGINT) AS n_tokens,
        |  round(sum((CAST(n_st AS DOUBLE) / s.n_s) *
        |    ln(CAST(n_st AS DOUBLE) * nn /
        |       (CAST(s.n_s AS DOUBLE) * n_t))), 4) AS kl_nats
        |FROM st
        |JOIN tot USING (tok) JOIN s ON st.source = s.source CROSS JOIN n
        |GROUP BY st.source, s.n_s""".stripMargin,

    "q_boilerplate_shingles" ->
      s"""WITH $shingleCte,
        |pd AS (SELECT doc_id, shingle, count(*) AS n_in_doc
        |  FROM sh GROUP BY 1, 2),
        |g AS (SELECT shingle, count(*) AS n_docs,
        |    CAST(sum(n_in_doc) AS BIGINT) AS n_total
        |  FROM pd GROUP BY 1)
        |SELECT shingle, n_docs, n_total FROM g WHERE n_docs >= 3
        |ORDER BY n_docs DESC, n_total DESC, shingle ASC LIMIT 30"""
        .stripMargin,

    "q_chunk_text" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, t, nt,
        |    CASE WHEN nt <= 32 THEN 1
        |      ELSE 1 + CAST(ceil((nt - 32) / 24.0) AS BIGINT) END
        |      AS n_chunks
        |  FROM d),
        |e AS (
        |  SELECT doc_id, t, nt,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        |  FROM c)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(
        |    t[CAST(chunk_idx * 24 + 1 AS BIGINT):
        |      CAST(chunk_idx * 24 + least(32, nt - chunk_idx * 24) AS BIGINT)],
        |    ' ') AS chunk_text
        |FROM e""".stripMargin,

    "q_mixture_temperature" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |s AS (SELECT source, CAST(sum(nt) AS BIGINT) AS n_s
        |  FROM d GROUP BY 1),
        |mn AS (SELECT min(n_s) AS n_min FROM s),
        |r AS (
        |  SELECT source, least(100, CAST(floor(
        |    100.0 * sqrt(CAST(n_min AS DOUBLE) / n_s)) AS BIGINT)) AS pct
        |  FROM s CROSS JOIN mn)
        |SELECT d.source, min(pct) AS pct, count(*) AS n_docs_kept,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens_kept
        |FROM d JOIN r ON d.source = r.source
        |WHERE CAST(CONCAT('0x', substring(
        |    md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |  % 100 < pct
        |GROUP BY d.source""".stripMargin,

    "q_split_parity" ->
      s"""WITH $splitsCte,
        |g AS (
        |  SELECT split, lang, count(*) AS n_docs,
        |    round(avg(n_chars), 2) AS avg_chars
        |  FROM documents JOIN splits USING (doc_id)
        |  GROUP BY 1, 2)
        |SELECT split, lang, n_docs, avg_chars,
        |  round(CAST(n_docs AS DOUBLE) /
        |    sum(n_docs) OVER (PARTITION BY split), 4) AS share
        |FROM g""".stripMargin,

    "q_perplexity" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |m AS (SELECT tok, count(*) AS n_t FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM tok)
        |SELECT doc_id, count(*) AS n_tokens,
        |  round(sum(ln(CAST(nn AS DOUBLE) / n_t)) / count(*), 4) AS nll
        |FROM tok JOIN m USING (tok) CROSS JOIN n
        |GROUP BY doc_id""".stripMargin,

    "q_perplexity_bigram" ->
      """WITH lt AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, l[t.i] AS prev, l[t.i + 1] AS w
        |  FROM lt, LATERAL (SELECT unnest(range(1, len(l))) AS i) t
        |  WHERE len(l) >= 2),
        |tok AS (SELECT unnest(l) AS tok FROM lt),
        |nbg AS (SELECT prev, w, count(*) AS nbg FROM bg GROUP BY 1, 2),
        |npv AS (SELECT prev, count(*) AS nprev FROM bg GROUP BY 1),
        |nwt AS (SELECT tok, count(*) AS nw FROM tok GROUP BY 1),
        |nt AS (SELECT count(*) AS nn FROM tok),
        |model AS (
        |  SELECT b.prev, b.w,
        |    CAST(floor(-ln(0.75 * CAST(nbg AS DOUBLE) / nprev +
        |      0.25 * CAST(nw AS DOUBLE) / nn) * 1000000000 + 0.5)
        |      AS BIGINT) AS s_nano
        |  FROM nbg b JOIN npv USING (prev)
        |  JOIN nwt ON nwt.tok = b.w
        |  CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(s_nano) AS BIGINT) / 1000000000.0 / count(*), 4)
        |    AS nll_jm
        |FROM bg JOIN model USING (prev, w)
        |GROUP BY doc_id""".stripMargin,

    "q_perplexity_kn" ->
      """WITH lt AS (
        |  SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |bg AS (
        |  SELECT doc_id, l[t.i] AS prev, l[t.i + 1] AS w
        |  FROM lt, LATERAL (SELECT unnest(range(1, len(l))) AS i) t
        |  WHERE len(l) >= 2),
        |nbg AS (SELECT prev, w, count(*) AS nbg FROM bg GROUP BY 1, 2),
        |npv AS (SELECT prev, count(*) AS nprev FROM bg GROUP BY 1),
        |ncont AS (SELECT prev, count(*) AS ncont FROM nbg GROUP BY 1),
        |nleft AS (SELECT w, count(*) AS nleft FROM nbg GROUP BY 1),
        |nt AS (SELECT count(*) AS tt FROM nbg),
        |model AS (
        |  SELECT b.prev, b.w,
        |    CAST(floor(-ln(
        |      (CAST(b.nbg AS DOUBLE) - 0.75) / nprev +
        |        ((0.75 * ncont) / nprev) *
        |        (CAST(nleft AS DOUBLE) / tt)) * 1000000000 + 0.5)
        |      AS BIGINT) AS s_nano
        |  FROM nbg b JOIN npv USING (prev)
        |  JOIN ncont USING (prev)
        |  JOIN nleft ON nleft.w = b.w
        |  CROSS JOIN nt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(sum(s_nano) AS BIGINT) / 1000000000.0 / count(*), 4)
        |    AS nll_kn
        |FROM bg JOIN model USING (prev, w)
        |GROUP BY doc_id""".stripMargin,

    // Same nano-unit token scores as q_perplexity's model, integer-summed
    // per doc, banded per lang by (round-6 mean, doc_id) tertile rank.
    "q_perplexity_band" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |m AS (SELECT tok, count(*) AS n_t FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM tok),
        |sc AS (
        |  SELECT tok, CAST(floor(ln(CAST(nn AS DOUBLE) / n_t) *
        |    1000000000 + 0.5) AS BIGINT) AS s_nano
        |  FROM m CROSS JOIN n),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    CAST(sum(s_nano) AS BIGINT) AS sum_nano
        |  FROM tok JOIN sc USING (tok) GROUP BY 1),
        |r AS (
        |  SELECT pd.*, d.lang,
        |    row_number() OVER (PARTITION BY d.lang ORDER BY
        |      round(CAST(sum_nano AS DOUBLE) / 1000000000.0 / n_tokens, 6),
        |      pd.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY d.lang) AS n
        |  FROM pd JOIN documents d ON d.doc_id = pd.doc_id)
        |SELECT lang,
        |  CASE WHEN rn * 3 <= n THEN 'head'
        |       WHEN rn * 3 <= n * 2 THEN 'middle'
        |       ELSE 'tail' END AS band,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(sum_nano) AS BIGINT) / 1000000000.0 /
        |    sum(n_tokens), 4) AS nll
        |FROM r GROUP BY 1, 2""".stripMargin,

    // Bounded-comparison oracle (the q_conformal_approx shape): DuckDB
    // cannot see the sketch, but the per-lang doc count is exact and the
    // rank-error contract must come back true. Every doc lands in the
    // scored stream (string_split('') = [''] matches the engine's
    // tokenizer on the degenerate row), so n_docs is count(*) per lang.
    "q_perplexity_band_approx" ->
      """SELECT lang, count(*) AS n_docs, CAST(1 AS BOOLEAN) AS rank_ok
        |FROM documents GROUP BY 1""".stripMargin,

    "q_mutual_info" ->
      """WITH j AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2)
        |SELECT lang, source, n,
        |  round(ln(CAST(n AS DOUBLE) * sum(n) OVER () /
        |    (sum(n) OVER (PARTITION BY lang) *
        |     sum(n) OVER (PARTITION BY source))), 4) AS pmi
        |FROM j""".stripMargin,

    "q_pack_sequences" ->
      """WITH tok AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
        |  FROM tok)
        |SELECT lang, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q_tfidf_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY 1, 2),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_corpus FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf * ln((n_corpus + 1.0) / (df + 1)), 6) AS score
        |  FROM tf JOIN idf USING (token) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token ASC) AS rn FROM scored)
        |SELECT doc_id, token, score, rn FROM r WHERE rn <= 3""".stripMargin,

    "q_bigrams_topk" ->
      """WITH toks2 AS (SELECT string_split(text, ' ') AS t FROM documents),
        |bg AS (
        |  SELECT unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(1, len(t)),
        |           i -> array_to_string(t[i:i+1], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS bigram
        |  FROM toks2)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 40""".stripMargin,

    "q_diversity_distinct_n" ->
      """WITH dd AS (SELECT source, string_split(text, ' ') AS t
        |           FROM documents),
        |u AS (
        |  SELECT source, count(*) AS n1, count(DISTINCT g) AS d1
        |  FROM (SELECT source, unnest(t) AS g FROM dd) GROUP BY 1),
        |b AS (
        |  SELECT source, count(*) AS n2, count(DISTINCT g) AS d2
        |  FROM (SELECT source, unnest(CASE WHEN len(t) >= 2
        |    THEN list_transform(range(1, len(t)),
        |           i -> array_to_string(t[i:i+1], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g FROM dd)
        |  GROUP BY 1),
        |tr AS (
        |  SELECT source, count(*) AS n3, count(DISTINCT g) AS d3
        |  FROM (SELECT source, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1),
        |           i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g FROM dd)
        |  GROUP BY 1)
        |SELECT u.source,
        |  CAST(n1 AS BIGINT) AS n_unigrams, CAST(d1 AS BIGINT)
        |    AS d_unigrams,
        |  round(CAST(d1 AS DOUBLE) / n1, 4) AS distinct_1,
        |  CAST(n2 AS BIGINT) AS n_bigrams, CAST(d2 AS BIGINT)
        |    AS d_bigrams,
        |  round(CAST(d2 AS DOUBLE) / n2, 4) AS distinct_2,
        |  CAST(n3 AS BIGINT) AS n_trigrams, CAST(d3 AS BIGINT)
        |    AS d_trigrams,
        |  round(CAST(d3 AS DOUBLE) / n3, 4) AS distinct_3
        |FROM u JOIN b ON b.source = u.source
        |JOIN tr ON tr.source = u.source""".stripMargin,

    "q_lang_dist" ->
      """WITH x AS (SELECT text, string_split(text, ' ') AS toks FROM documents),
        |y AS (SELECT
        |    CAST(len(toks) AS BIGINT) AS nt,
        |    CAST(len(list_distinct(toks)) AS BIGINT) AS nd,
        |    len(list_filter(toks,
        |      t -> list_contains(['the','a','of','and','to'], t))) AS s_en,
        |    len(list_filter(toks,
        |      t -> list_contains(['el','la','de','los','y'], t))) AS s_es,
        |    len(list_filter(toks,
        |      t -> list_contains(['der','die','das','und','ist'], t))) AS s_de,
        |    len(list_filter(toks,
        |      t -> list_contains(['le','les','et','des','une'], t))) AS s_fr
        |  FROM x),
        |z AS (SELECT
        |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_id,
        |    round(0.5 * least(CAST(nt AS DOUBLE) / 50.0, 1.0)
        |        + 0.3 * least(CAST(s_en AS DOUBLE) / nt * 10.0, 1.0)
        |        + 0.2 * (CAST(nd AS DOUBLE) / nt), 4) AS q,
        |    nt FROM y)
        |SELECT lang_id, count(*) AS n_docs, round(avg(q), 4) AS avg_quality,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens
        |FROM z GROUP BY lang_id""".stripMargin,

    "q_source_gini" ->
      """WITH x AS (
        |  SELECT source, count(*) AS x FROM documents GROUP BY 1),
        |r AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x ASC, source ASC)
        |    AS BIGINT) AS i
        |  FROM x),
        |a AS (
        |  SELECT count(*) AS n_sources, CAST(sum(x) AS BIGINT) AS n_docs,
        |    CAST(sum(i * x) AS BIGINT) AS ix
        |  FROM r)
        |SELECT n_sources, n_docs,
        |  round(CAST(2 * ix - (n_sources + 1) * n_docs AS DOUBLE)
        |    / (n_sources * n_docs), 6) AS gini
        |FROM a""".stripMargin,

    // Word co-occurrence graph + the q_pagerank round template; ids from
    // the same lexicographic row_number, so even the internal ids align.
    "q_textrank" ->
      ("""WITH tok AS (
        |  SELECT string_split(text, ' ') AS tk FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bp AS (
        |  SELECT tk[ui] AS wa, tk[ui + 1] AS wb FROM (
        |    SELECT tk, unnest(range(1, len(tk))) AS ui FROM tok)
        |  WHERE tk[ui] != tk[ui + 1]),
        |up AS (SELECT DISTINCT wa, wb FROM (
        |  SELECT wa, wb FROM bp UNION ALL SELECT wb AS wa, wa AS wb
        |  FROM bp)),
        |wd AS (
        |  SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT)
        |    AS wid
        |  FROM (SELECT wa AS word FROM up UNION SELECT wb FROM up)),
        |e AS (
        |  SELECT a.wid AS src, b.wid AS dst
        |  FROM up JOIN wd a ON a.word = up.wa JOIN wd b ON b.word = up.wb),
        |n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |o AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
        |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM n)""" +
        (1 to 5).map(i => s""",
        |c$i AS (
        |  SELECT e.dst AS id, sum(r.r // o.od) AS c
        |  FROM e JOIN r${i - 1} r ON r.id = e.src JOIN o ON o.src = e.src
        |  GROUP BY 1),
        |r$i AS (
        |  SELECT n.id,
        |    CAST(150000000 + (85 * COALESCE(c.c, 0)) // 100 AS BIGINT) AS r
        |  FROM n LEFT JOIN c$i c ON c.id = n.id)""").mkString + """
        |SELECT w.word AS word, r.r AS rank_nano
        |FROM r5 r JOIN wd w ON w.wid = r.id
        |ORDER BY rank_nano DESC, word ASC LIMIT 20""").stripMargin,

    "q_lang_confusion" ->
      """WITH x AS (SELECT lang, string_split(text, ' ') AS toks
        |  FROM documents),
        |y AS (SELECT lang,
        |    len(list_filter(toks,
        |      t -> list_contains(['the','a','of','and','to'], t))) AS s_en,
        |    len(list_filter(toks,
        |      t -> list_contains(['el','la','de','los','y'], t))) AS s_es,
        |    len(list_filter(toks,
        |      t -> list_contains(['der','die','das','und','ist'], t)))
        |      AS s_de,
        |    len(list_filter(toks,
        |      t -> list_contains(['le','les','et','des','une'], t))) AS s_fr
        |  FROM x),
        |z AS (SELECT lang,
        |    CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |      THEN 'en'
        |         WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_id
        |  FROM y)
        |SELECT lang, lang_id, count(*) AS n_docs, lang = lang_id AS agree
        |FROM z GROUP BY 1, 2""".stripMargin,

    "q_langid_nb" ->
      s"""WITH $splitsCte,
        |$langidCtes
        |SELECT doc_id, lang, pred_lang, score_nano,
        |  lang = pred_lang AS agree
        |FROM lid_best WHERE rn = 1""".stripMargin,

    "q_langid_confusion" ->
      s"""WITH $splitsCte,
        |$langidCtes
        |SELECT lang, pred_lang, count(*) AS n_docs,
        |  lang = pred_lang AS agree
        |FROM lid_best WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q_langid_chargram" ->
      s"""WITH $splitsCte,
        |$chargramCtes
        |SELECT lang, pred_lang, count(*) AS n_docs,
        |  lang = pred_lang AS agree
        |FROM cg_best WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q_langid_chargram35" ->
      s"""WITH $splitsCte,
        |$chargram35Ctes
        |SELECT lang, pred_lang, count(*) AS n_docs,
        |  lang = pred_lang AS agree
        |FROM cg_best WHERE rn = 1 GROUP BY 1, 2""".stripMargin,

    "q_dedup_url" ->
      s"""WITH $urlCtes
        |SELECT canon_url, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM ucanon GROUP BY 1""".stripMargin,

    // kappa from the UNROUNDED po/pe (the display columns round
    // separately) — boolean-gate-from-rounded-value is the r12 defect
    // class this deliberately avoids.
    "q_filter_agreement" ->
      """WITH d AS (SELECT text, string_split(text, ' ') AS l
        |  FROM documents),
        |m AS (
        |  SELECT
        |    CAST(len(l) AS DOUBLE) AS nt,
        |    CAST(len(list_distinct(l)) AS DOUBLE) AS ndist,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) AS cl,
        |    CAST(len(l) AS BIGINT) AS n_words,
        |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(l)
        |      AS mean_raw,
        |    CAST(len(list_filter(l,
        |      tk -> regexp_matches(tk, '[a-zA-Z]'))) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(text) - length(replace(text, '...', ''))) / 3
        |      AS BIGINT) AS n_ell
        |  FROM d),
        |k AS (
        |  SELECT
        |    (nt >= 30 AND nt <= 400 AND ndist / nt >= 0.2
        |      AND cl / nt >= 2 AND cl / nt <= 12) AS kq,
        |    (n_words >= 50 AND n_words <= 100000
        |      AND mean_raw >= 3 AND mean_raw <= 10
        |      AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8
        |      AND CAST(n_hash AS DOUBLE) / n_words <= 0.1
        |      AND CAST(n_ell AS DOUBLE) / n_words <= 0.1) AS kg
        |  FROM m),
        |c AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN kq AND kg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bk,
        |    CAST(sum(CASE WHEN kq AND NOT kg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS qo,
        |    CAST(sum(CASE WHEN NOT kq AND kg THEN 1 ELSE 0 END) AS BIGINT)
        |      AS go,
        |    CAST(sum(CASE WHEN NOT kq AND NOT kg THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bd
        |  FROM k),
        |p AS (
        |  SELECT n, bk, qo, go, bd,
        |    CAST(bk + bd AS DOUBLE) / n AS po_raw,
        |    (CAST(bk + qo AS DOUBLE) * (bk + go)
        |      + CAST(go + bd AS DOUBLE) * (qo + bd))
        |      / (CAST(n AS DOUBLE) * n) AS pe_raw
        |  FROM c)
        |SELECT n AS n_docs, bk AS n_both_keep, qo AS n_q_only,
        |  go AS n_g_only, bd AS n_both_drop,
        |  round(po_raw, 4) AS po, round(pe_raw, 4) AS pe,
        |  round((po_raw - pe_raw) / (1 - pe_raw), 4) AS kappa
        |FROM p""".stripMargin,

    "q_zipf_fit" ->
      """WITH c0 AS (
        |  SELECT token, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 200),
        |r AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, token ASC)
        |    AS BIGINT) AS rank
        |  FROM c0)
        |SELECT count(*) AS n_types,
        |  round(regr_slope(ln(n), ln(rank)), 4) AS zipf_slope,
        |  round(regr_intercept(ln(n), ln(rank)), 4) AS zipf_intercept,
        |  round(regr_r2(ln(n), ln(rank)), 4) AS r2
        |FROM r""".stripMargin,

    "q_dedup_fingerprint" ->
      """SELECT md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fingerprint,
        |  count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_minhash_pairs" ->
      s"""WITH $shingleCte,
        |$minhashCandCte
        |SELECT doc_a, doc_b FROM cand""".stripMargin,

    "q_dedup_jaccard" ->
      s"""WITH $shingleCte,
        |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |    AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |  >= 0.5""".stripMargin,

    // IDENTICAL SQL to q_dedup_jaccard by design: the Spark side joins
    // only on rarest-first prefix tokens before verifying, so
    // hash-equality against the blocking-free oracle proves prefix
    // filtering lossless on this corpus.
    "q_dedup_ppjoin" ->
      s"""WITH $shingleCte,
        |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |    AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |  >= 0.5""".stripMargin,

    "q_dedup_minhash_verified" ->
      s"""WITH $shingleCte,
        |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |$minhashCandCte,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS common
        |  FROM cand c
        |  JOIN d a ON a.doc_id = c.doc_a
        |  JOIN d b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |    AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |  >= 0.5""".stripMargin,

    // Verified pairs (same derivation as q_dedup_minhash_verified) joined
    // to both sides' source, rolled up per unordered source pair.
    "q_dedup_cross_source" ->
      s"""WITH $shingleCte,
        |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |$minhashCandCte,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
        |common AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS common
        |  FROM cand c
        |  JOIN d a ON a.doc_id = c.doc_a
        |  JOIN d b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |verified AS (
        |  SELECT doc_a, doc_b,
        |    round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |      AS jaccard
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |    >= 0.5)
        |SELECT least(da.source, db.source) AS source_lo,
        |  greatest(da.source, db.source) AS source_hi,
        |  count(*) AS n_pairs, round(avg(jaccard), 4) AS avg_jaccard
        |FROM verified v
        |JOIN documents da ON da.doc_id = v.doc_a
        |JOIN documents db ON db.doc_id = v.doc_b
        |GROUP BY 1, 2""".stripMargin,

    // Ground truth = the exact inverted-index join at threshold 0.5 (a
    // Jaccard ≥ 0.5 pair necessarily shares a shingle, so the index join is
    // exhaustive); candidates = the banded minhash CTE. One row.
    "q_dedup_recall" ->
      s"""WITH $shingleCte,
        |d AS (SELECT DISTINCT doc_id, shingle FROM sh),
        |$minhashCandCte,
        |sizes AS (SELECT doc_id, count(*) AS sz FROM d GROUP BY doc_id),
        |common AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (
        |  SELECT doc_a, doc_b
        |  FROM common
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE round(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 4)
        |    >= 0.5)
        |SELECT count(*) AS n_true,
        |  count(c.doc_a) AS n_detected,
        |  CASE WHEN count(*) > 0 THEN
        |    round(count(c.doc_a) / CAST(count(*) AS DOUBLE), 4)
        |  ELSE NULL END AS recall,
        |  (SELECT count(*) FROM cand) AS n_candidates
        |FROM truth tr
        |LEFT JOIN cand c ON tr.doc_a = c.doc_a AND tr.doc_b = c.doc_b"""
        .stripMargin,

    // Same verified-pair derivation, then component labels via a recursive
    // transitive closure (symmetric + reflexive edges, min reachable id) —
    // the declarative twin of the Spark side's min-label propagation loop.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,

    // IDENTICAL SQL to q_dedup_clusters by design: the Spark side runs
    // the large-star/small-star algorithm instead of propagation, so
    // hash-equality against the same oracle proves the swap exact.
    "q_dedup_clusters_star" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src""".stripMargin,

    // Unrolled 4-round peel twin over the same verified `pairs`. Every
    // round's CTEs are MATERIALIZED: plain CTEs inline per reference,
    // and each round reads its predecessor three times — 3^rounds
    // re-evaluations of the whole minhash chain (the q_coreset_kcenter
    // lesson; the unused recursive `reach` member costs nothing).
    "q_dedup_kcore" ->
      (s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |ke0 AS MATERIALIZED (SELECT doc_a AS lo, doc_b AS hi
        |                     FROM pairs)""" +
        (1 to 4).map(r => s""",
        |ks$r AS MATERIALIZED (
        |  SELECT id FROM (SELECT lo AS id FROM ke${r - 1}
        |                  UNION ALL SELECT hi FROM ke${r - 1})
        |  GROUP BY id HAVING count(*) >= 2),
        |ke$r AS MATERIALIZED (
        |  SELECT e.lo, e.hi FROM ke${r - 1} e
        |  JOIN ks$r a ON a.id = e.lo JOIN ks$r b ON b.id = e.hi)""")
          .mkString + """,
        |core AS (
        |  SELECT id FROM (SELECT lo AS id FROM ke4
        |                  UNION ALL SELECT hi FROM ke4)
        |  GROUP BY id HAVING count(*) >= 2),
        |kn AS (
        |  SELECT DISTINCT id FROM (SELECT doc_a AS id FROM pairs
        |                           UNION ALL SELECT doc_b FROM pairs))
        |SELECT kn.id AS node_id, core.id IS NOT NULL AS in_kcore
        |FROM kn LEFT JOIN core ON core.id = kn.id""").stripMargin,

    "q_dedup_kept" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |drops AS (
        |  SELECT src AS doc_id FROM reach
        |  GROUP BY src HAVING src != min(dst))
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY lang""".stripMargin,

    // IDENTICAL SQL to q_dedup_kept by design: the Spark side builds state
    // from half the corpus and folds the other half in incrementally, so
    // hash-equality against the whole-corpus oracle proves
    // build-then-update == full recompute.
    "q_dedup_state_incr" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |drops AS (
        |  SELECT src AS doc_id FROM reach
        |  GROUP BY src HAVING src != min(dst))
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY lang""".stripMargin,

    // IDENTICAL SQL to q_dedup_kept by design: the Spark side reads the
    // materialized cluster state, so hash-equality against the same oracle
    // proves state-read == recompute.
    "q_dedup_state_kept" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |drops AS (
        |  SELECT src AS doc_id FROM reach
        |  GROUP BY src HAVING src != min(dst))
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY lang""".stripMargin,

    "q_dedup_savings" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |drops AS (
        |  SELECT src AS doc_id FROM reach
        |  GROUP BY src HAVING src != min(dst))
        |SELECT source, count(*) AS n_docs,
        |  count(drops.doc_id) AS n_dropped,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  CAST(sum(CASE WHEN drops.doc_id IS NOT NULL THEN n_chars
        |    ELSE 0 END) AS BIGINT) AS chars_dropped,
        |  round(count(drops.doc_id) / CAST(count(*) AS DOUBLE), 4)
        |    AS drop_rate
        |FROM documents d
        |LEFT JOIN drops ON d.doc_id = drops.doc_id
        |GROUP BY source""".stripMargin,

    // Cluster labels → sizes → integer-division weights (1e9 div k nano /
    // chars·1e6 div k micro), per-source integer sums, shared divisions.
    "q_dedup_soft" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |clu AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach
        |  GROUP BY src),
        |sz AS (SELECT cluster_id, count(*) AS k FROM clu GROUP BY 1),
        |w AS (
        |  SELECT d.doc_id, d.source, d.n_chars,
        |    coalesce(sz.k, 1) AS k
        |  FROM documents d
        |  LEFT JOIN clu ON clu.doc_id = d.doc_id
        |  LEFT JOIN sz ON sz.cluster_id = clu.cluster_id)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(1000000000 // k) AS BIGINT) / 1000000000.0, 4)
        |    AS eff_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |  round(CAST(sum((n_chars * 1000000) // k) AS BIGINT) / 1000000.0,
        |    2) AS eff_chars
        |FROM w GROUP BY source""".stripMargin,

    "q_dedup_kept_best" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |clu AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach
        |  GROUP BY src),
        |ranked AS (
        |  SELECT c.doc_id, row_number() OVER (
        |    PARTITION BY c.cluster_id
        |    ORDER BY dd.n_chars DESC, c.doc_id ASC) AS rn
        |  FROM clu c JOIN documents dd ON dd.doc_id = c.doc_id),
        |drops AS (SELECT doc_id FROM ranked WHERE rn != 1)
        |SELECT lang, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |GROUP BY lang""".stripMargin,

    // Unit = component label (singletons: own id); split = md5 bucket of
    // the unit — the same membership formula as every other hash split,
    // salted 'csplit:'.
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $shingleCte,
        |$verifiedReachCte,
        |clu AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach
        |  GROUP BY src),
        |units AS (
        |  SELECT dd.doc_id, coalesce(clu.cluster_id, dd.doc_id) AS unit_id
        |  FROM documents dd LEFT JOIN clu ON clu.doc_id = dd.doc_id)
        |SELECT doc_id, unit_id,
        |  CASE WHEN b < 90 THEN 'train'
        |       WHEN b < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, unit_id,
        |  CAST(CONCAT('0x', substring(
        |    md5('csplit:' || CAST(unit_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |    % 100 AS b FROM units)""".stripMargin,

    "q_sample_per_group" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    md5('pg:' || CAST(doc_id AS VARCHAR)) AS sk
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY sk, doc_id) AS BIGINT) AS rn
        |  FROM d)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 5""".stripMargin,

    "q_shard_order" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CONCAT('0x', substring(
        |      md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      % 8 AS shard,
        |    md5('order:' || CAST(doc_id AS VARCHAR)) AS pos
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars,
        |  arg_min(doc_id, pos) AS first_doc,
        |  arg_max(doc_id, pos) AS last_doc
        |FROM d GROUP BY shard""".stripMargin,

    "q_shard_manifest" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CONCAT('0x', substring(
        |      md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      % 8 AS shard,
        |    md5('order:' || CAST(doc_id AS VARCHAR)) AS pos
        |  FROM documents)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY pos, doc_id) AS BIGINT) AS seq,
        |  doc_id, pos
        |FROM d""".stripMargin,

    // The same shard/pos derivation with the token-count curriculum key
    // prepended to the within-shard sort.
    "q_shard_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CONCAT('0x', substring(
        |      md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
        |      % 8 AS shard,
        |    md5('order:' || CAST(doc_id AS VARCHAR)) AS pos,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents)
        |SELECT shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY n_tokens, pos, doc_id) AS BIGINT) AS seq,
        |  doc_id, n_tokens
        |FROM d""".stripMargin,

    "q_decontamination" ->
      s"""WITH $shingleCte,
        |$minhashCandCte,
        |$splitsCte
        |SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b
        |FROM cand
        |JOIN splits sa ON sa.doc_id = doc_a
        |JOIN splits sb ON sb.doc_id = doc_b
        |WHERE sa.split != sb.split""".stripMargin,

    "q_mixture_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |bs AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_toks
        |  FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_toks) AS BIGINT) AS tot_toks,
        |    count(*) AS k FROM bs),
        |w AS (SELECT source,
        |    least(100, (100 * tot_toks) // (k * src_toks)) AS w_pct
        |  FROM bs CROSS JOIN tot)
        |SELECT d.source, w_pct, count(*) AS n_kept,
        |  CAST(sum(nt) AS BIGINT) AS toks_kept
        |FROM d JOIN w USING (source)
        |WHERE CAST(CONCAT('0x', substring(md5(
        |    'mix:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 4))
        |  AS BIGINT) % 100 < w_pct
        |GROUP BY 1, 2""".stripMargin,

    "q_decontam_ngram" ->
      s"""WITH $shingleCte,
        |$splitsCte,
        |ev AS (
        |  SELECT DISTINCT shingle FROM sh
        |  JOIN splits USING (doc_id) WHERE split != 'train')
        |SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n_hit_grams
        |FROM sh
        |JOIN splits USING (doc_id)
        |JOIN ev USING (shingle)
        |WHERE split = 'train'
        |GROUP BY 1""".stripMargin,

    "q_decontam_kept" ->
      s"""WITH $shingleCte,
        |$splitsCte,
        |ev AS (
        |  SELECT DISTINCT shingle FROM sh
        |  JOIN splits USING (doc_id) WHERE split != 'train'),
        |flagged AS (
        |  SELECT DISTINCT sh.doc_id FROM sh
        |  JOIN splits USING (doc_id)
        |  JOIN ev USING (shingle)
        |  WHERE split = 'train')
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM documents JOIN splits USING (doc_id)
        |WHERE split = 'train'
        |  AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |GROUP BY 1, 2""".stripMargin,

    // The bloom prefilter is a pure optimization: the exact verify join
    // makes the answer identical to q_decontam_ngram's, so the oracle IS
    // the exact query — a bloom false negative (impossible by
    // construction) or a dropped verify would fail this row.
    "q_decontam_bloom" ->
      s"""WITH $shingleCte,
        |$splitsCte,
        |ev AS (
        |  SELECT DISTINCT shingle FROM sh
        |  JOIN splits USING (doc_id) WHERE split != 'train')
        |SELECT sh.doc_id, count(DISTINCT sh.shingle) AS n_hit_grams
        |FROM sh
        |JOIN splits USING (doc_id)
        |JOIN ev USING (shingle)
        |WHERE split = 'train'
        |GROUP BY 1""".stripMargin,

    // The composed pipeline, stage for stage: quality CTE mirrors
    // q_quality_filter's keep rules, dedup q_dedup_fingerprint's
    // normalized md5 (min-id survivor), decontam q_decontam_ngram's
    // eval-shingle sweep (eval side over the full corpus, train side over
    // survivors), mixture q_mixture_sample's integer keep-rate + md5
    // membership.
    "q_curation" ->
      s"""WITH q AS (
        |  SELECT doc_id, source, lang, text, nt FROM (
        |    SELECT doc_id, source, lang, text,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |      CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        AS ndist,
        |      CAST(length(replace(text, ' ', '')) AS DOUBLE) AS cl
        |    FROM documents)
        |  WHERE nt >= 30 AND nt <= 400 AND ndist / nt >= 0.2
        |    AND cl / nt >= 2 AND cl / nt <= 12),
        |$splitsCte,
        |d AS (
        |  SELECT doc_id, source, lang, text, nt FROM (
        |    SELECT q.*, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(trim(text), '\\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rk FROM q)
        |  WHERE rk = 1
        |    AND doc_id IN (SELECT doc_id FROM splits WHERE split = 'train')),
        |evtok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE doc_id IN (SELECT doc_id FROM splits WHERE split != 'train')),
        |ev AS (
        |  SELECT DISTINCT unnest(CASE WHEN len(t) >= 5
        |    THEN list_transform(range(1, len(t) - 3),
        |           i -> array_to_string(t[i:i+4], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS shingle
        |  FROM evtok),
        |dtok AS (SELECT doc_id, string_split(text, ' ') AS t FROM d),
        |dsh AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 5
        |    THEN list_transform(range(1, len(t) - 3),
        |           i -> array_to_string(t[i:i+4], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS shingle
        |  FROM dtok),
        |contam AS (SELECT DISTINCT doc_id FROM dsh JOIN ev USING (shingle)),
        |clean AS (
        |  SELECT * FROM d WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
        |bs AS (SELECT source, CAST(sum(nt) AS BIGINT) AS src_toks
        |  FROM clean GROUP BY 1),
        |tot AS (SELECT CAST(sum(src_toks) AS BIGINT) AS tot_toks,
        |    count(*) AS k FROM bs),
        |w AS (SELECT source,
        |    least(100, (100 * tot_toks) // (k * src_toks)) AS w_pct
        |  FROM bs CROSS JOIN tot)
        |SELECT clean.source, clean.lang, w_pct, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS toks
        |FROM clean JOIN w USING (source)
        |WHERE CAST(CONCAT('0x', substring(md5(
        |    'mix:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 4))
        |  AS BIGINT) % 100 < w_pct
        |GROUP BY 1, 2, 3""".stripMargin,

    // 64-bit simhash: positions 1-32 from md5(tok), 33-64 from md5('x:'+tok);
    // bit = majority vote of the nibble's top bit; 4 bands of 16 bits.
    "q_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, p.p,
        |    CASE WHEN sum(CASE WHEN substring(
        |        CASE WHEN p.p <= 32 THEN md5(tk) ELSE md5('x:' || tk) END,
        |        CASE WHEN p.p <= 32 THEN p.p ELSE p.p - 32 END, 1) >= '8'
        |      THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END AS b
        |  FROM tok, (SELECT unnest(range(1, 65)) AS p) p
        |  GROUP BY doc_id, p.p),
        |sig AS (
        |  SELECT doc_id, string_agg(b, '' ORDER BY p) AS simhash
        |  FROM bits GROUP BY doc_id),
        |blocks AS (
        |  SELECT doc_id, simhash, b.i AS block_idx,
        |    substring(simhash, b.i * 16 + 1, 16) AS block
        |  FROM sig, (SELECT unnest(range(0, 4)) AS i) b),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS sig_a, b.simhash AS sig_b
        |  FROM blocks a JOIN blocks b
        |    ON a.block_idx = b.block_idx AND a.block = b.block
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_filter(range(1, 65),
        |    p -> substring(sig_a, p, 1) != substring(sig_b, p, 1)))
        |    AS BIGINT) AS hamming
        |FROM cand
        |WHERE len(list_filter(range(1, 65),
        |  p -> substring(sig_a, p, 1) != substring(sig_b, p, 1))) <= 3"""
        .stripMargin,

    "q_fingerprint_winnow" ->
      s"""WITH $winnowGramCte,
        |win AS (
        |  SELECT doc_id, len(hs) AS n_grams,
        |    list_distinct(CASE WHEN len(hs) >= 4
        |      THEN list_transform(range(1, len(hs) - 2),
        |             i -> list_min(hs[i:i+3]))
        |      ELSE [list_min(hs)] END) AS fps
        |  FROM g)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(len(fps) AS BIGINT) AS n_fp,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM win""".stripMargin,

    "q_winnow_containment" ->
      s"""WITH $winnowGramCte,
        |fp AS (
        |  SELECT DISTINCT doc_id, unnest(CASE WHEN len(hs) >= 4
        |    THEN list_transform(range(1, len(hs) - 2),
        |           i -> list_min(hs[i:i+3]))
        |    ELSE [list_min(hs)] END) AS fp
        |  FROM g)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fp
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tk
        |  FROM documents),
        |tc AS (SELECT doc_id, tk, count(*) AS n FROM tok GROUP BY 1, 2),
        |ta AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |         CAST(max(n) AS BIGINT) AS top_n FROM tc GROUP BY 1),
        |t3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g3 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_transform(range(1, len(t) - 1),
        |           i -> array_to_string(t[i:i+2], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS g
        |  FROM t3),
        |gc AS (SELECT doc_id, g, count(*) AS n FROM g3 GROUP BY 1, 2),
        |ga AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_3grams,
        |         CAST(sum(n) - count(*) AS BIGINT) AS dup_3grams
        |       FROM gc GROUP BY 1)
        |SELECT ta.doc_id, n_tokens,
        |  round(CAST(top_n AS DOUBLE) / n_tokens, 4) AS top_tok_ratio,
        |  n_3grams,
        |  round(CAST(dup_3grams AS DOUBLE) / n_3grams, 4) AS dup_3gram_ratio
        |FROM ta JOIN ga ON ta.doc_id = ga.doc_id""".stripMargin,

    // The codec-free twin: pixels from the same integer arithmetic, bits
    // from the same cross-multiplied compare, bands/candidates/Hamming
    // from the same joins — equality proves the PNG encode→decode
    // round-trip returned the exact synthesized raster.
    "q_multimodal_phash" ->
      """WITH ids AS (
        |  SELECT doc_id, doc_id % 50 + (doc_id // 1000000) * 50 AS g,
        |    doc_id % 3 AS v
        |  FROM documents WHERE doc_id IS NOT NULL),
        |px AS (
        |  SELECT doc_id, b,
        |    CASE WHEN b < 3 THEN 40 + v * 70
        |         WHEN CAST(CONCAT('0x', substring(md5(
        |             'px:' || CAST(g AS VARCHAR) || ':'
        |             || CAST(b AS VARCHAR)), 1, 1)) AS INTEGER) >= 8
        |           THEN 216 ELSE 40 END AS p
        |  FROM ids, (SELECT unnest(range(0, 64)) AS b)),
        |sums AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS s
        |         FROM px GROUP BY 1),
        |bits AS (
        |  SELECT px.doc_id, b // 16 AS k,
        |    CAST(sum(CASE WHEN p * 64 > s THEN 1 << (b % 16) ELSE 0 END)
        |      AS BIGINT) AS bv
        |  FROM px JOIN sums USING (doc_id)
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bits x JOIN bits y ON x.k = y.k AND x.bv = y.bv
        |    AND x.doc_id < y.doc_id),
        |hx AS (
        |  SELECT doc_id,
        |    max(CASE WHEN k = 0 THEN bv END) AS h0,
        |    max(CASE WHEN k = 1 THEN bv END) AS h1,
        |    max(CASE WHEN k = 2 THEN bv END) AS h2,
        |    max(CASE WHEN k = 3 THEN bv END) AS h3
        |  FROM bits GROUP BY 1)
        |SELECT c.doc_a, c.doc_b,
        |  CAST(bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
        |    + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3))
        |    AS BIGINT) AS hamming
        |FROM cand c
        |JOIN hx a ON a.doc_id = c.doc_a
        |JOIN hx b ON b.doc_id = c.doc_b
        |WHERE bit_count(xor(a.h0, b.h0)) + bit_count(xor(a.h1, b.h1))
        |  + bit_count(xor(a.h2, b.h2)) + bit_count(xor(a.h3, b.h3)) <= 3"""
        .stripMargin,

    // The twin re-derives the k-th minimum by sorting the distinct hash
    // set — the declarative proof that the Aggregator's bounded heap
    // kept exactly the k smallest. Estimator arithmetic mirrors the
    // Spark plan op for op.
    "q_distinct_kmv" ->
      s"""WITH $shingleCte,
        |dg AS (SELECT DISTINCT d.source,
        |    CAST(CONCAT('0x', substring(md5(s.shingle), 1, 15)) AS BIGINT)
        |      AS g
        |  FROM sh s JOIN documents d USING (doc_id)),
        |kth AS (
        |  SELECT source, g, row_number() OVER (PARTITION BY source
        |    ORDER BY g ASC) AS rn, count(*) OVER (PARTITION BY source)
        |    AS nd
        |  FROM dg)
        |SELECT source, CAST(nd AS BIGINT) AS n_exact,
        |  CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
        |    ELSE round(63.0 * CAST(1152921504606846976 AS DOUBLE) / g, 2)
        |  END AS est,
        |  CASE WHEN nd < 64 THEN 0.0
        |    ELSE round(abs(round(63.0 *
        |        CAST(1152921504606846976 AS DOUBLE) / g, 2) - nd)
        |      / CAST(nd AS DOUBLE), 4)
        |  END AS rel_err
        |FROM kth WHERE nd >= 64 AND rn = 64
        |UNION ALL
        |SELECT source, CAST(nd AS BIGINT) AS n_exact,
        |  CAST(nd AS DOUBLE) AS est, 0.0 AS rel_err
        |FROM kth WHERE nd < 64 AND rn = 1""".stripMargin,

    // Same shingle CTE as the dedup family; grams keyed by the identical
    // 60-bit md5-prefix both engines derive, so even a hash collision is
    // shared rather than divergent.
    "q_ngram_novelty" ->
      s"""WITH $shingleCte,
        |dg AS (SELECT DISTINCT doc_id,
        |    CAST(CONCAT('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
        |      AS g
        |  FROM sh),
        |fs AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g)
        |SELECT dg.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN fs.first_doc = dg.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN fs.first_doc = dg.doc_id
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(count(*) AS DOUBLE), 6) AS novelty
        |FROM dg JOIN fs USING (g)
        |GROUP BY dg.doc_id""".stripMargin,

    // chr(225,233,237,243,250) = precomposed a/e/i/o/u-acute; chr(769) =
    // the combining acute — ASCII-only SQL so the oracle JSON stays
    // locale-proof. strip_accents and nfc_normalize are DuckDB built-ins.
    "q_text_normalize" ->
      """WITH acc AS (
        |  SELECT doc_id, substring(text, 1, 48) AS head,
        |    translate(substring(text, 1, 48), 'aeiou',
        |      chr(225) || chr(233) || chr(237) || chr(243) || chr(250))
        |      AS accented
        |  FROM documents),
        |dec AS (
        |  SELECT doc_id, head, accented,
        |    replace(replace(replace(replace(replace(accented,
        |      chr(225), 'a' || chr(769)), chr(233), 'e' || chr(769)),
        |      chr(237), 'i' || chr(769)), chr(243), 'o' || chr(769)),
        |      chr(250), 'u' || chr(769)) AS decomposed
        |  FROM acc)
        |SELECT doc_id, accented, strip_accents(accented) AS stripped,
        |  strip_accents(accented) = head AS roundtrip_ok,
        |  nfc_normalize(decomposed) = accented AS nfc_ok
        |FROM dec""".stripMargin,

    "q_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 10 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' call 555-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT)
        |    AS n_phones,
        |  md5(regexp_replace(regexp_replace(t,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g')) AS redacted_hash
        |FROM p""".stripMargin,

    "q_multimodal_frames" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    1 + CAST(octet_length(encode(text)) AS BIGINT) % 32 AS n_frames
        |  FROM documents)
        |SELECT doc_id,
        |  unnest(range(0, n_frames, 4)) AS frame_idx,
        |  md5(text || ':frame:' ||
        |    CAST(unnest(range(0, n_frames, 4)) AS VARCHAR)) AS frame_hash
        |FROM f""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_hash,
        |  32 + CAST(octet_length(encode(text)) AS BIGINT) % 224 AS width,
        |  32 + (CAST(octet_length(encode(text)) AS BIGINT) * 7) % 224 AS height,
        |  CASE WHEN substring(md5(text), 1, 1) >= '8'
        |    THEN CAST(3 AS BIGINT) ELSE CAST(1 AS BIGINT) END
        |    AS channels
        |FROM documents""".stripMargin,

    "q_multimodal_audio" ->
      """SELECT doc_id,
        |  8000 + (doc_id % 5) * 2000 AS sample_rate,
        |  50 + (n_chars % 100) AS n_frames,
        |  1 + doc_id % 2 AS n_channels
        |FROM documents WHERE n_chars IS NOT NULL""".stripMargin,

    "q_multimodal_video" ->
      """SELECT doc_id,
        |  160 + (doc_id % 8) * 8 AS width,
        |  120 + (doc_id % 6) * 10 AS height,
        |  1 + doc_id % 2 AS n_tracks
        |FROM documents""".stripMargin,
  )
}
