package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators — the remaining steps a large-scale LLM
  * training-data pipeline runs between "deduped corpus" and "training
  * shards" (builder brief; first-class alongside SURVEY §2.11's dedup /
  * similarity / text-analysis families):
  *
  *   - benchmark DECONTAMINATION (`q_decontaminate`): drop training
  *     docs that share long word n-grams with a held-out eval set — the
  *     overlap check every serious LM pipeline runs (e.g. GPT-3's 13-gram
  *     and Llama's n-gram eval-overlap filters);
  *   - weighted source MIXING (`q_corpus_mix`): per-source sampling
  *     rates applied via deterministic hashing — reproducible under
  *     retries and repartitioning, unlike `rand()`-based sampling;
  *   - sequence PACKING (`q_pack_sequences`): assign docs to fixed
  *     token-budget shards by running token count — the batch-shaping
  *     step before tokenization;
  *   - intra-document REPETITION (`q_text_repetition`): duplicated-
  *     bigram fraction, the Gopher-style quality signal that catches
  *     boilerplate/degenerate text that inter-doc dedup cannot.
  *
  * All exact integer / md5-fold arithmetic so each has a bit-exact
  * DuckDB oracle.
  */
object Curation {
  type Q = (SparkSession, String) => DataFrame

  /** Eval-set selector: doc_id ≡ 0 (mod EvalMod) stands in for the
    * held-out benchmark (~1% of the corpus; real eval sets are tiny
    * relative to training corpora, which is what makes the broadcast
    * design below the right one). */
  val EvalMod = 97

  /** doc_id of the derived near-dup `q_decontaminate_fuzzy_planted`
    * unions into the corpus: far outside any driver id range, and
    * 1000000 % 97 = 27 ≠ 0 so the plant lands on the CORPUS side of
    * the eval split. */
  val PlantId = 1000000L

  /** Fallback contamination shingle width (word n-grams) for callers
    * with no corpus count at hand (an unbounded stream has no count to
    * derive from). The streaming gate takes its width from the
    * [[EvalShingles]] value it is given — never from this constant —
    * so a derived-width eval set can never silently mismatch the gate.
    * Batch decontamination derives the width from scale via
    * [[deriveShingleWidth]]. */
  val ShingleWidth = 5

  /** Contamination shingle width DERIVED from corpus scale. Width
    * trades recall for precision: 5-grams are aggressive
    * (paraphrase-adjacent reuse — right for small corpora, where
    * incidental collisions are rare anyway), while production pipelines
    * on web-scale corpora run 8–13-grams for verbatim-leak detection
    * (GPT-3 used 13-grams) because short n-grams collide incidentally
    * everywhere at that size. width = min(13, 4 + decimal_digits(N)):
    * digits(N) = floor(log10 N) + 1 spelled as string length, pure
    * string/integer arithmetic both engines compute identically —
    * 50 docs → 6, 500 → 7, 5000 → 8, 10⁹ → 13 (capped). */
  def deriveShingleWidth(n: Long): Int =
    math.min(13, 4 + n.toString.length)

  /** SQL twin of [[deriveShingleWidth]] as a params CTE: same
    * digit-count arithmetic over the same count(*), so both engines
    * derive the SAME width from the SAME corpus. */
  def shingleParamsSql(countFrom: String): String = s"""
      params AS (
        SELECT least(13, 4 + length(CAST(count(*) AS VARCHAR))) AS W
        FROM $countFrom)"""

  /** Token budget per packed shard. */
  val PackBudget = 2048L

  /** Docs per packing group: windows partition on (lang, pack_group) so
    * no window partition ever exceeds this many rows regardless of
    * corpus size — the "no unpartitioned/unbounded window" scale rule.
    * Packing is local to a group (shards never span groups), which is
    * exactly how distributed packing behaves in production: global
    * greedy packing would serialize the corpus through one partition
    * for no modeling benefit. */
  val PackGroup = 10000L

  /** Per-source target sampling rates (percent), the mixing weights. */
  val MixRates = Seq(("en", 80L), ("de", 60L), ("fr", 40L), ("es", 20L), ("zh", 10L))

  /** Total token budget for the `q_corpus_recipe` data-recipe
    * calculation — the target training-set size the mix is solved
    * against. */
  val RecipeBudget = 100000L

  /** Exact per-stratum sample size for `q_sample_stratified`. */
  val SampleK = 50

  /** Width-`width` word n-grams of one text value, as an array column —
    * the per-row form shared by the batch explode below and the
    * streaming gate (where explode+join granularity doesn't fit a
    * per-record filter). The `when` guard keeps `sequence` from ever
    * evaluating with a negative bound on short texts. */
  def shingleArray(text: org.apache.spark.sql.Column,
                   width: Int = ShingleWidth): org.apache.spark.sql.Column = {
    val toks = split(lower(text), " ")
    when(size(toks) < width, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - width),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(width)))))
  }

  /** High-bit divisor of the 60-bit rotate: rotl1(acc) =
    * (acc mod 2⁵⁹)·2 + (acc div 2⁵⁹) — a 1-bit left rotation inside the
    * nonnegative 60-bit md5-fold domain, spelled in mod/div arithmetic
    * both engines evaluate identically with no BIGINT overflow
    * (acc < 2⁶⁰ ⟹ (acc mod 2⁵⁹)·2 < 2⁶⁰). */
  private val RotHi = 1L << 59

  /** Word-shingle keys: (doc_id, sh_key) with one row per DISTINCT
    * width-`width` word n-gram per doc. The old spelling concat'd the
    * `width` tokens and md5'd the resulting ~50-char string PER SHINGLE
    * — every token's bytes hashed `width` times per doc. This one md5s
    * each TOKEN once (n hashes instead of n×width) and combines a
    * shingle's token folds with a rotate-accumulate polynomial roll
    * (acc ← rotl1(acc) XOR h, Buzhash-style): position-sensitive, pure
    * integer arithmetic, and closed over the shared nonnegative 60-bit
    * domain, so the DuckDB twin reproduces it in list_reduce lambda
    * arithmetic (list_reduce seeds acc with the first element — exactly
    * what Spark's aggregate(…, 0L, step) computes, since
    * step(0, h) = h). A cross-key collision is ~2⁻⁶⁰ per pair — and
    * both engines compute the SAME keys, so the oracle agrees
    * bit-for-bit even when one occurs. Keys fold BEFORE the distinct,
    * so the wide ops downstream shuffle 8-byte keys, never strings. */
  private def shingles(docs: DataFrame, width: Int): DataFrame =
    docs
      .select(col("doc_id"),
        expr(s"transform(split(lower(text), ' '), t -> ${Tables.md5FoldSql("t")})")
          .as("tf"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tf) < $width THEN array()
            ELSE transform(sequence(0, size(tf) - $width),
                   i -> aggregate(slice(tf, i + 1, $width), 0L,
                          (acc, h) -> ((acc % ${RotHi}L) * 2L + (acc div ${RotHi}L)) ^ h))
            END""")).as("sh_key"))
      .distinct()

  /** (doc_id, pos, sh_key): every shingle WITH its 0-based token
    * position — the positions-aware form of [[shingles]] (no distinct:
    * repeats matter when reconstructing runs). Same rolling-hash keys. */
  private[operators] def shinglesWithPos(docs: DataFrame, width: Int): DataFrame =
    docs
      .select(col("doc_id"),
        expr(s"transform(split(lower(text), ' '), t -> ${Tables.md5FoldSql("t")})")
          .as("tf"))
      .select(col("doc_id"), posexplode(expr(
        s"""CASE WHEN size(tf) < $width THEN array()
            ELSE transform(sequence(0, size(tf) - $width),
                   i -> aggregate(slice(tf, i + 1, $width), 0L,
                          (acc, h) -> ((acc % ${RotHi}L) * 2L + (acc div ${RotHi}L)) ^ h))
            END""")).as(Seq("pos", "sh_key")))

  /** Training docs that share ≥ 1 shingle with the eval set, with their
    * total and overlapping shingle counts. The eval side reduces to its
    * DISTINCT shingle set and BROADCASTS — the corpus never shuffles
    * FOR THE EVAL COMPARISON (the join is a BroadcastHashJoin, asserted
    * in PlanShapeSpec), which is the load-bearing asymmetry: eval sets
    * are MBs, corpora are TBs. The per-doc distinct/count aggregations
    * DO shuffle the corpus's shingle keys — that is inherent to exact
    * per-doc counts and partial-aggregates map-side; a pipeline that
    * only needs the boolean gate avoids it entirely via
    * `contaminationGate` below. */
  def decontaminate(docs: DataFrame): DataFrame = {
    // Shingle width derives from corpus scale (deriveShingleWidth): the
    // count is one up-front driver job — for a parquet scan it resolves
    // from footer metadata — the same knob-derivation cost the SimHash
    // and LSH paths pay, and the oracle's params CTE recomputes it from
    // the same count(*) so both engines agree on the width.
    val width = deriveShingleWidth(docs.count())
    // Shingles reduce to BIGINT keys BEFORE the wide ops (per-token md5
    // folds + rotate-xor roll, see `shingles`): the per-doc
    // distinct/count shuffles 8-byte keys instead of ~50-char strings
    // (measured 14 MB → ~1.5 MB at sf0.1), the broadcast eval set
    // shrinks the same way, and each token's bytes are hashed once
    // instead of `width` times. Counting keys is counting shingles: a
    // 60-bit intra-doc collision is ~n²/2⁶¹ ≈ never, and when one does
    // occur DuckDB computes the SAME key, so the oracle agrees
    // bit-for-bit either way.
    decontaminateFromShingles(shingles(docs, width))
  }

  /** [[decontaminate]] over a PREBUILT distinct (doc_id, sh_key) frame
    * — the store-fed form (round-22): ONE tail definition for the
    * inline and store-fed paths, so the two can never drift. The
    * registered key hands in [[docShingleStore]]; `decontaminate`
    * shingles inline (the fixture/funnel form). */
  def decontaminateFromShingles(sh: DataFrame): DataFrame = {
    val eval_ = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("sh_key")).distinct().withColumn("hit", lit(1))
    sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(eval_), Seq("sh_key"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)
  }

  /** TRUE ⟺ appending `batch` docs onto a corpus now counting `n`
    * stepped the derived shingle width — THE decline predicate of the
    * doc_shingles append-merge lane (the pqCodesBlockCrossed
    * convention: ONE definition shared by the lane and its spec).
    * Shingle keys are per-doc functions OF THE WIDTH; a width step
    * makes every stored key stale ⟹ cold rebuild. */
  def shingleWidthCrossed(n: Long, batch: Long): Boolean =
    deriveShingleWidth(n - batch) != deriveShingleWidth(n)

  /** The PERSISTED DOC-SHINGLE STORE — the distinct (doc_id, sh_key)
    * frame of the WHOLE corpus at the derived width, keyed on the
    * documents fingerprint (round-22, the verdict's "shared shingle
    * store" ask): the per-token md5 fold + rotate-roll is the shared
    * expensive stage of the exact-decontamination family AND the
    * novelty family — previously q_decontaminate, _report,
    * _incremental, q_text_novelty and q_text_novelty_incremental each
    * re-folded the corpus per resolution (5 corpus-scale folds; ~6 s
    * of the sf0.1 driver wall). A production pipeline writes this
    * table at ingest next to the corpus; every gate/report/novelty
    * consumer filters it by doc_id slice — per-doc shingles are
    * corpus-independent, so a doc_id-filtered view is BIT-IDENTICAL
    * to re-shingling the subset (the funnel's basePos exactness
    * argument) and every oracle hash is unchanged.
    *
    * APPEND-MERGE: shingles are per-doc at fixed width, so the grown
    * store is old ∪ shingles(batch) — batch-linear — while the derived
    * width holds; a [[deriveShingleWidth]] step DECLINES to cold
    * (every stored key hashes width-token windows — the lsh_buckets
    * convention, predicate [[shingleWidthCrossed]]). */
  def docShingleStore(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, s"doc-shingles:$dir")(
      graft.sources.Warehouse.servedFrameMerged(
        s, "doc_shingles", dir, "documents",
        graft.sources.Warehouse.docsFp(s, dir)) {
        val docs = Tables.documents(s, dir)
        val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
        shingles(docs, deriveShingleWidth(n))
      } { (old, batch) =>
        val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
        if (shingleWidthCrossed(n, batch.count())) None
        else Some(old.unionByName(shingles(batch, deriveShingleWidth(n))))
      })

  /** Build the doc-shingle store NOW — Bench's explicit artifact-build
    * row (the warmMinhashBands accounting rule: the build is its own
    * timed row, never hidden inside a serving key). */
  def warmDocShingles(s: SparkSession, dir: String): Unit = {
    docShingleStore(s, dir)
    ()
  }

  /** The persisted eval-shingle INDEX: the distinct rolled shingle keys
    * of the eval slice, built ONCE at `width`. A production pipeline
    * writes this next to its eval sets (the width is part of the
    * artifact — same lesson as [[EvalShingles]]) and gates every
    * arriving batch against it, instead of re-shingling the eval set —
    * let alone the corpus — per run. Tiny by construction (eval sets
    * are MBs), so the gate side always broadcasts. */
  def evalShingleIndex(docs: DataFrame, width: Int): DataFrame =
    shingles(docs.filter(col("doc_id") % EvalMod === 0), width)
      .select(col("sh_key")).distinct()

  /** Gate ONE arriving batch against a persisted [[evalShingleIndex]]:
    * same output contract as [[decontaminate]] (doc_id, n_shingles,
    * n_hit; hits only), but the only data touched is the batch itself
    * plus the broadcast index — the corpus is never rescanned. Cost per
    * batch is linear in the batch, independent of corpus size: the
    * ingest-time shape at 100 TB, where full-recompute decontamination
    * per arriving batch would be quadratic over the pipeline's life. */
  def decontaminateBatch(batch: DataFrame, index: DataFrame,
                         width: Int): DataFrame =
    decontaminateBatchFromShingles(shingles(batch, width), index)

  /** [[decontaminateBatch]] over a PREBUILT batch shingle frame — the
    * store-fed form (round-22): the registered incremental key filters
    * [[docShingleStore]] to the batch slice (per-doc shingles, so the
    * filtered view ≡ re-shingling the batch); ONE gate-tail
    * definition. */
  def decontaminateBatchFromShingles(batchSh: DataFrame,
                                     index: DataFrame): DataFrame =
    batchSh
      .join(broadcast(index.withColumn("hit", lit(1))), Seq("sh_key"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hit"))
      .filter(col("n_hit") > 0)

  /** N-GRAM NOVELTY — each doc's MARGINAL CONTRIBUTION to the corpus
    * in doc_id order: of its distinct derived-width word shingles, how
    * many appear in NO earlier doc (global min doc_id = this doc), and
    * the novel share in truncating basis points. The
    * curriculum/source-pricing signal (what does this doc add beyond
    * everything before it?) and the content-level complement of the
    * whole-doc dedup family: a doc can be 0 bp novel without being an
    * exact or near dup of any single doc. Docs shorter than the
    * shingle width have no shingles and are absent (spec-pinned).
    *
    * Scale shape: shingles reduce to 60-bit BIGINT keys before any
    * wide op (the [[decontaminate]] discipline); n_novel is derived
    * from the firsts frame ALONE (count of shingles whose min doc is
    * this doc) instead of joining the corpus-sized shingle frame back
    * against it. The firsts branch is a straight partial min keyed by
    * sh_key that COLLAPSES map-side before its one exchange (a
    * boilerplate shingle in every doc ships as one row per map task,
    * not one per doc); the per-doc branch is the standard skew-safe
    * distinct-count shape (map-side pair dedup below the compound
    * exchange, then the doc-keyed count) — both plan-pinned. The
    * corpus is scanned and folded twice (CPU-linear; cheaper than
    * materializing the token-scale pair frame for sharing); the final
    * join is doc-sized on both sides. Linear at any corpus size —
    * never doc×doc. */
  def novelty(docs: DataFrame): DataFrame =
    noveltyFromShingles(
      shinglesWithPos(docs, deriveShingleWidth(docs.count()))
        .select("doc_id", "sh_key"))

  /** [[novelty]] over a PREBUILT (doc_id, sh_key) frame — the
    * store-fed form (round-22): both aggregates (per-doc distinct
    * count, per-key min doc) are duplicate-insensitive, so the
    * DISTINCT [[docShingleStore]] rows and the raw positional frame
    * produce identical values; ONE tail definition. */
  def noveltyFromShingles(sh: DataFrame): DataFrame = {
    val nsh = sh.groupBy("doc_id")
      .agg(count_distinct(col("sh_key")).as("n_shingles"))
    val novel = sh.groupBy("sh_key").agg(min(col("doc_id")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    nsh.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_shingles"))
      .orderBy("doc_id")
  }

  /** The persisted FIRSTS index for [[novelty]]: the distinct shingle
    * keys of the corpus prefix (everything ingested so far). In
    * production this table is written bucketed by `sh_key` next to the
    * corpus and carries its build width in the table name (the
    * [[evalShingleIndex]] lesson: the width is part of the artifact —
    * frozen when the corpus was first indexed, NOT re-derived per
    * batch, or every prior batch's gate is invalidated). */
  def noveltyIndex(prefix: DataFrame, width: Int): DataFrame =
    shinglesWithPos(prefix, width).select(col("sh_key")).distinct()

  /** Gate ONE arriving batch against a persisted [[noveltyIndex]]:
    * same output contract as [[novelty]] restricted to the batch —
    * a batch shingle is novel iff it misses the index AND this doc is
    * its first appearance WITHIN the batch (the within-batch min
    * replays full doc_id-order semantics, so incremental == full
    * recompute exactly). Cost per batch: the batch's own shingle fold
    * plus one anti-join probe of the bucketed index on 8-byte keys —
    * the corpus text is never rescanned; at 100 TB the index probe is
    * the only corpus-sized touch and bucket pruning on `sh_key` keeps
    * it shuffle-free on the index side. The batch's distinct shingle
    * frame min-collapses map-side BEFORE the anti-join, so the probe
    * side is bounded by the batch's distinct keys, not its token
    * count. */
  def noveltyBatch(batch: DataFrame, index: DataFrame,
                   width: Int): DataFrame =
    // ONE batch shingling (round-21, guide §2.4): sh feeds the per-doc
    // count and the firsts branch — left lazy, the tokenize + md5-fold
    // subtree ran twice (two full batch scans in the measured plan).
    // The frame is batch-sized; values unchanged.
    noveltyBatchFromShingles(
      shinglesWithPos(batch, width).select("doc_id", "sh_key")
        .localCheckpoint(true), index)

  /** [[noveltyBatch]] over a PREBUILT batch shingle frame — the
    * store-fed form (round-22): the registered incremental key filters
    * [[docShingleStore]] to the arriving slice (no checkpoint needed —
    * both consumers read the persisted parquet); ONE tail
    * definition. */
  def noveltyBatchFromShingles(sh: DataFrame, index: DataFrame): DataFrame = {
    val nsh = sh.groupBy("doc_id")
      .agg(count_distinct(col("sh_key")).as("n_shingles"))
    val novel = sh.groupBy("sh_key").agg(min(col("doc_id")).as("doc_id"))
      .join(index, Seq("sh_key"), "left_anti")
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    nsh.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_shingles"))
      .orderBy("doc_id")
  }

  /** Source-concentration audit (`q_corpus_gini`): Gini of the
    * per-source doc-count and byte distributions + top-source shares.
    * Gini via the PAIRWISE mean-absolute-difference form
    * Σᵢⱼ|cᵢ−cⱼ| · 10⁴ div (2·k·S) — exact integers with one trailing
    * truncating div, and NO rank window (the rank form needs a global
    * sort; the plan-shape suite bans unpartitioned windows). The k²
    * pair frame is per-SOURCE, bounded at any corpus size (the
    * classCentroids labels² pattern). */
  def sourceGini(docs: DataFrame): DataFrame = {
    val per = docs.groupBy("source")
      .agg(count(lit(1)).as("c"), sum(col("n_chars")).as("b"))
    val a = per.select(col("c").as("ca"), col("b").as("ba"))
    val b2 = per.select(col("c").as("cb"), col("b").as("bb"))
    val pairs = a.crossJoin(broadcast(b2))
      .agg(sum(abs(col("ca") - col("cb"))).as("dc"),
        sum(abs(col("ba") - col("bb"))).as("db"))
    per.agg(count(lit(1)).as("n_sources"), sum(col("c")).as("n_docs"),
        sum(col("b")).as("total_bytes"),
        max(col("c")).as("maxc"), max(col("b")).as("maxb"))
      .crossJoin(broadcast(pairs))
      .select(col("n_sources"), col("n_docs"), col("total_bytes"),
        expr("dc * 10000 div (2 * n_sources * n_docs)")
          .as("gini_docs_bp"),
        expr("db * 10000 div (2 * n_sources * total_bytes)")
          .as("gini_bytes_bp"),
        expr("maxc * 10000 div n_docs").as("top_doc_share_bp"),
        expr("maxb * 10000 div total_bytes").as("top_byte_share_bp"))
  }

  /** EVAL-SIDE contamination report — [[decontaminate]] flipped around:
    * per EVAL doc, how many corpus docs share ≥ 1 width-w shingle with
    * it and how many of its distinct shingles leaked. The corpus-side
    * audit answers "which training docs must go"; THIS answers the
    * question the benchmark maintainer asks — "which of MY eval items
    * are compromised, and how badly" (the table behind every
    * contamination appendix, e.g. GPT-3's appendix C per-benchmark
    * dirty counts). Same broadcast asymmetry: the eval shingle frame is
    * tiny and broadcasts, the corpus's keys never shuffle to join; the
    * output is bounded by the leak volume. The two count-distincts ride
    * one grouped aggregate (an expand doubles the hit rows — hit rows,
    * not the corpus). */
  def decontaminateReport(docs: DataFrame): DataFrame =
    decontaminateReportFromShingles(
      shingles(docs, deriveShingleWidth(docs.count())))

  /** [[decontaminateReport]] over a PREBUILT distinct shingle frame —
    * the store-fed form (round-22); ONE report-tail definition. */
  def decontaminateReportFromShingles(sh: DataFrame): DataFrame = {
    val eval_ = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), col("sh_key"))
    sh.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(eval_), Seq("sh_key"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("doc_id")).as("n_corpus_docs"),
        countDistinct(col("sh_key")).as("n_shared_shingles"))
  }

  /** FUZZY decontamination — the near-dup tier of the train/test gate:
    * [[decontaminate]] catches verbatim n-gram overlap; this catches
    * eval material that was paraphrased, reformatted, or partially
    * rewritten into the corpus (the GPT-3 appendix-C concern — their
    * fuzzy dedup gate was exactly MinHash against the benchmarks).
    * Pipeline: MinHash band index of the EVAL slice (tiny — eval sets
    * are MBs) broadcasts against the corpus's band index; banded
    * collisions become candidates; candidates are exact-Jaccard
    * verified (word sets fetched for candidate ids only, the
    * [[Dedup.verifyJaccard]] tail); output is per-corpus-doc:
    * (doc_id, n_eval_matches, max_jac).
    *
    * Scale shape: the load-bearing asymmetry is the same as the exact
    * gate's — eval side broadcasts, the corpus's bands never shuffle
    * to join; corpus cost is the linear signature pass the dedup
    * pipeline already pays (at 100 TB the band index is built once and
    * shared by q_dedup_minhash and this gate). Threshold 0.8 = the
    * minhash dedup family's, one knob. */
  def decontaminateFuzzy(docs: DataFrame,
                         threshold: Double = 0.8): DataFrame =
    decontaminateFuzzyFromBands(
      Dedup.minhashBandIndex(docs.filter(col("doc_id") % EvalMod === 0)),
      Dedup.minhashBandIndex(docs.filter(col("doc_id") % EvalMod =!= 0)),
      docs, threshold)

  /** [[decontaminateFuzzy]] over PREBUILT band frames — the store-fed
    * form (round-22): bands are a PER-DOC function (shingle → md5-fold
    * → min — no corpus-global input, fixed permutation constants), so
    * a doc_id-filtered view of the persisted `minhash_bands` store is
    * BIT-IDENTICAL to re-banding the slice; the registered keys hand
    * in store slices and the corpus is never re-signed per
    * resolution. ONE tail definition (the lshTopKWith convention). */
  def decontaminateFuzzyFromBands(evalBands0: DataFrame,
                                  corpusBands: DataFrame, docs: DataFrame,
                                  threshold: Double = 0.8): DataFrame = {
    val evalBands = evalBands0
      .select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
    val cands = corpusBands
      .join(broadcast(evalBands), Seq("band_id", "band_hash"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
    Dedup.verifyJaccard(cands, docs, threshold)
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("n_eval_matches"), max(col("jac")).as("max_jac"))
      .select(col("doc_a").as("doc_id"), col("n_eval_matches"),
        col("max_jac"))
      .orderBy("doc_id")
  }

  /** The CURATION FUNNEL — the §2.11 operators composed into the
    * pipeline they exist for, as one oracle-checked query: input →
    * quality screen → exact dedup → exact decontamination → FUZZY
    * decontamination → verbatim (substring) scrub → semantic dedup,
    * each stage over the previous stage's survivors, output = the
    * per-stage kept-count funnel table every pipeline report leads
    * with. Frozen artifacts follow the production convention: the
    * shingle width and eval set derive from the FULL corpus (the eval
    * set is fixed — it is not itself being curated), as do the
    * semantic centroids and cell count; stage predicates see only
    * survivors. Docs without an embedding PASS the semantic stage
    * (nothing to compare — the conservative default, same reasoning as
    * the gates' null handling; at sf0.1 only a subset of docs carry
    * vectors, so this path is exercised). Eval-slice docs drop at the
    * exact decontamination stage: benchmarks are held out of training
    * data, not trained on. The fuzzy stage (the GPT-3 appendix-C gate)
    * catches the paraphrase the shingle gate structurally cannot: a
    * doc sharing NO width-w n-gram with the eval set can still be a
    * banded MinHash collision with word-set Jaccard ≥ 0.8 (block-
    * reordered text — PipelineSpec plants exactly that). The verbatim
    * stage cuts cross-doc shared runs among survivors (keep-first) and
    * drops docs whose every token was removed — a doc that is nothing
    * but other docs' text contributes nothing but duplication.
    *
    * Scale shape: a linear composition of already-scale-shaped stages
    * — the funnel adds seven count aggregates (bytes) on top of the
    * stages it composes; survivor filtering is semi/anti joins on
    * doc_id, each reusing the id partitioning of the frames involved.
    */
  def corpusFunnel(docs: DataFrame, embeddings: DataFrame): DataFrame =
    funnelCounts(docs.sparkSession, funnelFrames(docs, embeddings))

  private def funnelCounts(s: SparkSession, f: FunnelFrames): DataFrame = {
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_kept"))
        .select(lit(name).as("stage"), col("n_kept"))
    s.range(1)
      .select(lit("0_input").as("stage"), lit(f.nInput).as("n_kept"))
      .unionByName(stage("1_quality", f.s1))
      .unionByName(stage("2_exact", f.s2))
      .unionByName(stage("3_decontam", f.s3))
      .unionByName(stage("4_fuzzy", f.s4))
      .unionByName(stage("5_verbatim", f.s5))
      .unionByName(stage("6_semantic", f.s6))
      .orderBy("stage")
  }

  /** The funnel's per-stage survivor frames plus the DROP sets each
    * stage subtracted — one computation feeding both the count view
    * ([[corpusFunnel]]) and the per-doc verdict view
    * ([[corpusFunnelReasons]]). */
  private final case class FunnelFrames(
      nInput: Long, s1: DataFrame, s2: DataFrame, flagged: DataFrame,
      s3: DataFrame, fuzzyFlagged: DataFrame, s4: DataFrame,
      emptied: DataFrame, s5: DataFrame,
      semanticDrops: DataFrame, s6: DataFrame)

  /** ONE FunnelFrames build per (session, corpus dir) — the round-9
    * verdict's funnel-pair memoization: `q_corpus_funnel` and
    * `q_corpus_funnel_reasons` are two VIEWS of the same checkpointed
    * stage frames, so whichever runs first builds them and the other
    * reads (the per-stage localCheckpoint already stands in for the
    * stage table a production funnel writes — this cache is just the
    * "read the table you already wrote" half of that story). */
  private def funnelFramesArtifact(s: SparkSession, dir: String): FunnelFrames =
    Artifacts.cached(s, s"funnel:$dir") {
      // Warehouse materializer (round 16): s1 and the five drop sets
      // persist as per-stage tables keyed by path digest + corpus
      // fingerprint — the funnel's six stages resolve table-by-table,
      // so a crash mid-build resumes from the last complete stage and
      // a later JVM pays no stage compute at all (the by-need thunks
      // mean a full hit never shingles, bands, or decodes anything;
      // the one cost left is the fingerprint's stats pass).
      // Deterministic stages (every one is integer/digest arithmetic,
      // spec-pinned) make reuse == rebuild — all funnel hashes are
      // state-independent.
      //
      // Per-stage fingerprints track each table's ACTUAL inputs: the
      // five text stages key on the documents stamp, while stage 6
      // (fn_semdrops) reads EMBEDDINGS too — a docs-only stamp there
      // would serve a stale semantic drop set after an embeddings-only
      // regeneration (exactly the stale-serve channel the lifecycle
      // exists to close), and a combined stamp EVERYWHERE would
      // rebuild the whole text pipeline when only the embeddings
      // moved. WarehouseSpec pins both sides: an embeddings-only
      // mutation misses fn_semdrops and hits fn_s1.
      val docsFp = graft.sources.Warehouse.docsFp(s, dir)
      val semFp = graft.sources.Warehouse.combineFp(
        docsFp, graft.sources.Warehouse.embFp(s, dir))
      val mat: (String, () => DataFrame) => DataFrame = (family, build) => {
        if (family == "fn_s1")
          // The ONE merge-lane funnel stage (round-19): qualityGate is
          // a per-row filter, so s1(old ∪ delta) ≡ s1(old) ∪ s1(delta)
          // — an append pays a delta-sized regex pass instead of
          // re-screening the corpus (and s1 is the funnel's only
          // TEXT-carrying materialization, its costliest write). Every
          // LATER stage declines by design: their drop sets carry
          // corpus-global cross terms — the eval shingle index, the
          // verbatim df cap, and the semantic cell count all re-derive
          // from the FULL corpus, so a delta can re-flag SETTLED
          // survivors — and computing those terms needs the settled
          // corpus's shingles, which no stage table stores (SCALE.md
          // §store-merge adjudications).
          graft.sources.Warehouse.servedFrameMerged(
            s, family, dir, "documents", docsFp)(build()) { (old, delta) =>
            Some(old.unionByName(qualityGate(delta)))
          }
        else {
          val fp = if (family == "fn_semdrops") semFp else docsFp
          val (name, _) = graft.sources.Warehouse.servedTable(
            s, family, dir, fp, bucket = None) { n =>
            build().write.mode("overwrite").format("parquet").saveAsTable(n)
          }
          s.table(name)
        }
      }
      val (nDocs, _) = graft.sources.Warehouse.corpusStats(s, dir, "documents")
      funnelFrames(Tables.documents(s, dir), Tables.embeddings(s, dir),
        mat, nInputHint = nDocs,
        bandIndex = Some(() => Dedup.minhashBandStore(s, dir)),
        docShingles = Some(() => docShingleStore(s, dir)))
    }

  /** Build the shared span-family artifacts now (index → matches →
    * offsets, plus the incremental key's settled-slice index) —
    * Bench's explicit artifact-build pass. */
  def warmVerbatimArtifacts(s: SparkSession, dir: String): Unit = {
    verbatimOffsetsArtifact(s, dir)
    vbIncIndexArtifact(s, dir)
    ()
  }

  /** Build (and checkpoint) the shared funnel stage frames now —
    * Bench's explicit artifact-build pass. */
  def warmFunnelFrames(s: SparkSession, dir: String): Unit = {
    funnelFramesArtifact(s, dir)
    ()
  }

  /** Default materializer for [[funnelFrames]]'s stage frames — the
    * in-session localCheckpoint (fixture-driven callers and specs).
    * The (s, dir) artifact path swaps in the warehouse materializer
    * (see [[funnelFramesArtifact]]) so the SAME stage derivations
    * persist as per-stage tables; the thunk is by-need so a
    * warehouse HIT never evaluates (or shingles for) a frame it
    * already has on disk. */
  private val matCheckpoint: (String, () => DataFrame) => DataFrame =
    (_, f) => f().localCheckpoint(true)

  private def funnelFrames(docs: DataFrame,
                           embeddings: DataFrame,
                           mat: (String, () => DataFrame) => DataFrame =
                             matCheckpoint,
                           nInputHint: Long = -1L,
                           bandIndex: Option[() => DataFrame] = None,
                           docShingles: Option[() => DataFrame] = None)
      : FunnelFrames = {
    // One count: width derivation AND stage 0 — or the caller's
    // already-computed stat (the artifact path's fingerprint pass
    // counted documents moments earlier; a fully-warm resolve should
    // not pay a second corpus count).
    val nInput = if (nInputHint >= 0) nInputHint else docs.count()
    val width = deriveShingleWidth(nInput)
    // MATERIALIZATION SHAPE (round-12 rework of the round-9 per-stage
    // checkpoint): exactly ONE text-carrying frame is ever
    // materialized — s1, whose quality features cost a regex pass —
    // plus the five id-only DROP sets each stage subtracts. Survivor
    // frames s2…s6 are LAZY views: s1 minus the accumulated drop sets
    // via broadcast anti/semi joins (a drop set is the SMALL side by
    // construction — it's the rejects). Re-deriving a stage input is
    // then one streamed pass over the in-memory s1 with tiny broadcast
    // hash joins — no shuffle, no text re-write — where the old shape
    // re-checkpointed the (barely shrinking) full-text frame at every
    // stage and paid five more corpus-sized materialization jobs
    // (measured 12.8 → ~5 s clean at sf0.1). The drop sets still
    // checkpoint eagerly: each is both a funnel output (the reasons
    // view) and the cut that stops stage i's compute re-running under
    // stages i+1…n. Scale caveat: id-only drop sets broadcast fine up
    // to ~10⁷ rejects (≈ 100 MB); a corpus whose exact-dup rate makes
    // dropExact bigger than that is the point where the anti joins
    // become shuffle-on-id. The per-stage TABLES are no longer a
    // stand-in: under the (s, dir) artifact path the `mat` hook
    // persists s1 and every drop set through the warehouse lifecycle
    // (funnelFramesArtifact), so a later process resolves the funnel
    // without recomputing a stage — the production shape made literal.
    val s1 = mat("fn_s1", () => qualityGate(docs))
    // 2_exact — drop set: every doc that is NOT its digest group's
    // min-id keeper. One hash shuffle on digest; id-only output.
    val dropExact = mat("fn_dropexact", () => s1
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("digest")))
      .filter(col("doc_id") =!= col("keep_id"))
      .select("doc_id"))
    val s2 = s1.join(broadcast(dropExact), Seq("doc_id"), "left_anti")
    val corpus3 = s2.filter(col("doc_id") % EvalMod =!= 0)
    // ONE positional-shingle pass (round 15) feeds BOTH shingle
    // consumers: the decontamination count reads the distinct
    // (doc_id, sh_key) view, the verbatim stage semi-joins the s4
    // survivor ids. Per-doc shingles are corpus-independent — a
    // filtered view of this frame is BIT-IDENTICAL to re-shingling
    // the subset (the exactness argument; every funnel hash is
    // unchanged) — so the share moves no arithmetic, it only deletes
    // the second shingle pass. The eval index still shingles from the
    // FULL corpus (corpus3 excludes the eval slice by construction).
    // LAZY (round 16): under the warehouse materializer a full-hit
    // resolve must never shingle the corpus — basePos only forces when
    // a downstream drop table actually rebuilds.
    lazy val basePos = shinglesWithPos(
      corpus3.select(col("doc_id"), col("text")), width)
      .localCheckpoint(true)
    // The eval shingle index serves from the doc-shingle store when the
    // artifact path provides it (round-22): the funnel's width IS the
    // full-corpus width the store was built at (both derive from
    // nInput), and per-doc shingles make the eval-slice filter exact.
    val flagged = mat("fn_flagged", () =>
      basePos.select(col("doc_id"), col("sh_key")).distinct()
        .join(broadcast(docShingles
          .map(d => d().filter(col("doc_id") % EvalMod === 0)
            .select(col("sh_key")).distinct())
          .getOrElse(evalShingleIndex(docs, width))
          .withColumn("hit", lit(1))), Seq("sh_key"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("hit")).as("n_hit"))
        .filter(col("n_hit") > 0)
        .select("doc_id"))
    val s3 = corpus3.join(broadcast(flagged), Seq("doc_id"), "left_anti")
    // 4_fuzzy — MinHash near-dup gate against the SAME frozen eval
    // slice (decontaminateFuzzy's shape: eval bands broadcast, the
    // survivor corpus never shuffles for the comparison). Under the
    // artifact path the band frames come off the persisted
    // `minhash_bands` store (round-22): bands are per-doc, so the
    // eval slice is a doc_id filter and the survivor slice a semi-join
    // of the store — bit-identical to re-signing the subsets (the
    // basePos exactness argument), and the funnel build stops paying
    // two signature passes. `bandIndex` is a by-need thunk: a
    // full-hit resolve never touches (or builds) the store.
    val fuzzyFlagged = mat("fn_fuzzy", () => {
      val evalBands = bandIndex
        .map(b => b().filter(col("doc_id") % EvalMod === 0))
        .getOrElse(
          Dedup.minhashBandIndex(docs.filter(col("doc_id") % EvalMod === 0)))
        .select(col("band_id"), col("band_hash"), col("doc_id").as("doc_b"))
      val survivorBands = bandIndex
        .map(b => b().join(s3.select("doc_id"), Seq("doc_id"), "left_semi"))
        .getOrElse(Dedup.minhashBandIndex(s3))
      val fuzzyCands = survivorBands
        .join(broadcast(evalBands), Seq("band_id", "band_hash"))
        .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
      Dedup.verifyJaccard(fuzzyCands, docs, 0.8)
        .select(col("doc_a").as("doc_id")).distinct()
    })
    val s4 = s3.join(broadcast(fuzzyFlagged), Seq("doc_id"), "left_anti")
    // 5_verbatim — substring scrub among survivors (width frozen from
    // the full corpus, spans from survivor pairs only, keep-first): a
    // doc whose every token sits in a shared run is dropped. The
    // shingle frame and the df-capped index checkpoint FIRST: the
    // matches self-join references the index twice and the df cap
    // references the shingles again, so the plain verbatimRemove call
    // re-shingles the survivor corpus ~4× here (measured 7.2 → 2.5 s
    // at sf0.1); both frames are id/key-only and checkpoint in
    // milliseconds.
    val emptied = mat("fn_emptied", () => {
      val s4docs = s4.select(col("doc_id"), col("text"))
      val s4Shingles = basePos
        .join(s4.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val s4Index = s4Shingles.join(
        s4Shingles.groupBy("sh_key")
          .agg(countDistinct(col("doc_id")).as("df"))
          .filter(col("df") <= VerbatimMaxDf)
          .select("sh_key"),
        Seq("sh_key")).localCheckpoint(true)
      verbatimRemoveFrom(s4docs,
        verbatimOffsetsFrom(verbatimMatchesFrom(s4Index), width), width)
        .filter(col("n_removed") === col("n_tokens"))
        .select("doc_id")
    })
    val s5 = s4.join(broadcast(emptied), Seq("doc_id"), "left_anti")
    val semanticDrops = mat("fn_semdrops", () => {
      val vecs = Similarity.quantizedVectors(embeddings)
      val k = Dedup.deriveSemCells(vecs.count())
      val cents = vecs.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("v").as("c"))
      val survivorVecs = vecs.join(
        s5.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      Dedup.semanticDedup(survivorVecs, cents)
        .filter(!col("keep")).select(col("vec_id").as("doc_id"))
    })
    val s6 = s5.join(broadcast(semanticDrops), Seq("doc_id"), "left_anti")
    FunnelFrames(nInput, s1, s2, flagged, s3, fuzzyFlagged, s4,
      emptied, s5, semanticDrops, s6)
  }

  /** The funnel made ACTIONABLE per document: every input doc with the
    * verdict `kept` or the stage-tagged reason it was dropped —
    * `1_quality` (failed the length/repetition screen), `2_exact_dup`
    * (a byte-identical earlier copy survives instead), `3_eval_held_out`
    * (the doc IS eval-set material — held out of training by
    * membership, not similarity), `3_contaminated` (shares a shingle
    * with the eval set), `4_fuzzy_contaminated` (a banded MinHash
    * near-dup of eval material at Jaccard ≥ 0.8), `5_verbatim_emptied`
    * (every token sat in a cross-doc shared run — nothing left after
    * the substring scrub), `6_semantic_dup` (an earlier same-cell
    * neighbor at cos ≥ τ survives instead). The count view answers
    * "how much did each stage cost"; this answers "why is doc X gone"
    * — the first question a pipeline owner asks of a funnel report.
    *
    * Scale shape: the same stage frames (computed once, checkpointed)
    * plus six doc_id-keyed left joins and one CASE projection — every
    * join key is the id the frames already hash on, and the drop sets
    * (flagged, fuzzyFlagged, emptied, semanticDrops) are the SMALL
    * sides. */
  def corpusFunnelReasons(docs: DataFrame,
                          embeddings: DataFrame): DataFrame =
    funnelReasons(docs, funnelFrames(docs, embeddings))

  private def funnelReasons(docs: DataFrame, f: FunnelFrames): DataFrame =
    docs.select(col("doc_id"))
      .join(f.s1.select(col("doc_id"), lit(true).as("__in1")),
        Seq("doc_id"), "left")
      .join(f.s2.select(col("doc_id"), lit(true).as("__in2")),
        Seq("doc_id"), "left")
      .join(f.flagged.select(col("doc_id"), lit(true).as("__contam")),
        Seq("doc_id"), "left")
      .join(f.fuzzyFlagged.select(col("doc_id"), lit(true).as("__fuzzy")),
        Seq("doc_id"), "left")
      .join(f.emptied.select(col("doc_id"), lit(true).as("__empt")),
        Seq("doc_id"), "left")
      .join(f.semanticDrops.select(col("doc_id"), lit(true).as("__sem")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__in1").isNull, "1_quality")
          .when(col("__in2").isNull, "2_exact_dup")
          .when(col("doc_id") % EvalMod === 0, "3_eval_held_out")
          .when(col("__contam").isNotNull, "3_contaminated")
          .when(col("__fuzzy").isNotNull, "4_fuzzy_contaminated")
          .when(col("__empt").isNotNull, "5_verbatim_emptied")
          .when(col("__sem").isNotNull, "6_semantic_dup")
          .otherwise("kept").as("outcome"))
      .orderBy("doc_id")

  /** Above this eval-set size the gate ships shingles as a BROADCAST
    * VARIABLE instead of a plan literal. A literal array is ONE plan
    * node (no codegen blowup at any size — verified at 100k in
    * CurationStreamSpec), but it serializes into every task binary of
    * every micro-batch; a broadcast ships once per executor and is
    * what production-sized eval sets (millions of shingles) need. */
  val GateInlineMax = 4096

  /** Eval shingle set WITH the width it was built at. The gate below
    * takes its shingling width from THIS value — there is no separate
    * width parameter to get wrong (round-7 verdict: a defaulted
    * `width = 5` param let callers who built eval shingles at the
    * derived 7–13 width silently pass every contaminated row, because
    * width-5 probe shingles can never equal width-7 eval shingles).
    * The constructor additionally validates that every shingle really
    * is `width` tokens wide, so a hand-rolled mismatched set fails at
    * construction, not by silently matching nothing. */
  final case class EvalShingles(width: Int, shingles: Seq[String]) {
    require(width >= 1, s"shingle width must be >= 1, got $width")
    // A width-w shingle is w space-joined tokens ⟹ exactly w−1 spaces
    // (tokens from a space split can never contain one). Counting
    // separators — not re-splitting — keeps shingles with EMPTY tokens
    // valid: Scala's split(" ") drops trailing empties, so a legitimate
    // shingle like "a b c d " (consecutive-space text) would re-split
    // to fewer tokens and false-positively fail here.
    shingles.find(_.count(_ == ' ') != width - 1).foreach(s =>
      throw new IllegalArgumentException(
        s"eval shingle has ${s.count(_ == ' ') + 1} tokens, not the declared width $width: '$s'"))
    // The gate compares against shingles of lower(text): a hand-rolled
    // set with uppercase content could never match ANYTHING — every
    // contaminated row would silently pass (the same silent-miss class
    // as a width mismatch, so it fails at construction the same way;
    // round-16 review finding).
    shingles.find(s => s != s.toLowerCase(java.util.Locale.ROOT)).foreach(s =>
      throw new IllegalArgumentException(
        s"eval shingle is not lowercased (the gate shingles lower(text); " +
          s"build via EvalShingles.fromTexts): '$s'"))
  }

  object EvalShingles {
    /** Width-`width` word shingles of the eval texts — same
      * tokenization as [[shingleArray]]: lowercase, single-space split
      * KEEPING trailing empty tokens (limit −1), because Spark's
      * `split` keeps them. A plain Scala `split(" ")` drops trailing
      * empties, so an eval text with trailing whitespace would silently
      * contribute fewer (or zero) shingles than the gate computes for
      * the identical row text — verbatim copies would then pass.
      * Lowercasing is Locale.ROOT to match Spark's locale-independent
      * `lower()`: under a Turkish-style default JVM locale a bare
      * toLowerCase maps 'I' → 'ı', so eval-side shingles would differ
      * from the gate's and contaminated rows would silently pass. */
    def fromTexts(width: Int, texts: Seq[String]): EvalShingles =
      EvalShingles(width, texts.iterator.flatMap(t =>
        t.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
          .sliding(width).filter(_.length == width)
          .map(_.mkString(" "))).toSeq.distinct)
  }

  /** Order-independent content digest of an [[ImportanceModel]] — one
    * linear pass, no sort (the maps can hold 10⁷ entries): per-entry
    * hashes are SUMMED, so equal content digests equal regardless of
    * map iteration order. Each entry's key and value mix JOINTLY and
    * non-linearly (two murmur passes over the length-prefixed "k:v"
    * string form a 64-bit entry hash) — a digest that were linear in v
    * (the round-16 `31·Σhash + Σv` form) collides any two models whose
    * counts are merely redistributed over the same vocabulary, and the
    * broadcast cache would silently serve the stale model. */
  private def modelDigest(m: ImportanceModel): String = {
    def fold(x: Map[String, Long]): Long =
      x.iterator.foldLeft(0L) { case (a, (k, v)) =>
        val e = s"${k.length}:$k:$v"
        a + ((scala.util.hashing.MurmurHash3.stringHash(e, 0x9747b28c).toLong << 32)
          | (scala.util.hashing.MurmurHash3.stringHash(e, 0x85ebca6b).toLong
            & 0xffffffffL))
      }
    s"${m.cfT.size}:${fold(m.cfT)}:${m.cfR.size}:${fold(m.cfR)}:${m.nR}:${m.nT}"
  }

  /** Content digest of an eval set — the key of its gate broadcast
    * (`gate-bc:` in [[Artifacts]]): one broadcast per (session, eval-set
    * CONTENT), so gate re-construction (e.g. a restarted stream in the
    * same session) reuses the live broadcast instead of shipping another
    * copy that is never destroyed — the round-7 leak. The digest is over
    * the SORTED shingles plus the width, so content-equal sets built in
    * a different order dedupe correctly (a Seq-keyed memo would miss on
    * reorder and silently reintroduce the leak), and the memo holds a
    * 32-char string per entry, not a driver-side copy of a multi-MB
    * shingle Seq. */
  private def evalDigest(e: EvalShingles): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    // Length-prefixed entries: unambiguous regardless of shingle content.
    e.shingles.sorted.foreach(s => md.update(s"${s.length}:$s".getBytes("UTF-8")))
    e.width.toString + ":" + md.digest().map("%02x".format(_)).mkString
  }

  /** STREAMING contamination gate: keep only rows whose `text` shares
    * NO shingle with the eval set — the ingest-time form of
    * `decontaminate` (a batch audit reports; an ingest gate drops).
    * Stateless either way: no stream-side aggregation or join state, so
    * it runs on an unbounded stream and survives replay for free.
    * The shingling width comes from the [[EvalShingles]] value itself.
    *
    *  - ≤ [[GateInlineMax]] shingles: per-row `arrays_overlap` against
    *    the eval set as ONE array literal — fully codegen'd, zero setup.
    *  - above it: the shingle SET broadcasts (cached per (session, eval
    *    set) so stream restarts don't accumulate executor copies) and
    *    membership runs in a Scala predicate over the same
    *    `shingleArray` column. A UDF is the honest choice here: the
    *    declarative alternative is a multi-MB literal serialized per
    *    task per micro-batch, and a stream-side explode+anti-join would
    *    change row granularity and need re-aggregation state. The UDF
    *    call itself codegens (ScalaUDF is not a CodegenFallback;
    *    asserted in the spec). */
  def contaminationGate(stream: DataFrame, eval: EvalShingles): DataFrame = {
    if (eval.shingles.size <= GateInlineMax)
      // coalesce(…, false): a NULL text has no shingles and cannot be
      // contaminated, so it passes — the same verdict the broadcast
      // path's null check produces. Bare arrays_overlap yields NULL on
      // a NULL array and the filter would silently DROP those rows,
      // flipping behavior when the eval set crosses GateInlineMax.
      stream.filter(!coalesce(
        arrays_overlap(shingleArray(col("text"), eval.width),
          lit(eval.shingles.toArray)),
        lit(false)))
    else {
      val s = stream.sparkSession
      val bc = Artifacts.cached(s, "gate-bc:contam:" + evalDigest(eval))(
        s.sparkContext.broadcast(eval.shingles.toSet))
      val hit = udf((shs: Seq[String]) =>
        shs != null && shs.exists(bc.value.contains))
      stream.filter(!hit(shingleArray(col("text"), eval.width)))
    }
  }

  /** STREAMING SEMANTIC-DECONTAMINATION gate — the embedding tier of
    * the ingest door, completing the gate trio (quality → verbatim
    * shingles → semantic): drop every arriving vector with cosine ≥
    * τ = SemTauNum/SemTauDen against ANY eval-set embedding. Catches
    * eval material that was paraphrased into the corpus — the leak the
    * shingle gate cannot see (zero shared n-grams) and the batch-side
    * `q_decontaminate_fuzzy` catches only at word-set granularity.
    *
    * Stateless per-row (no streaming state, no watermark, replay-safe)
    * — the eval side BROADCASTS, which is justified by the same
    * load-bearing asymmetry as [[contaminationGate]]: eval sets are
    * small by nature, the stream is the unbounded side. Verdicts use
    * the exact integer cross-multiply from [[Dedup.SemTauNum]] (no
    * floats, so stream == batch replay is bit-stable). Per-row cost is
    * |eval| × dim multiplies in a tight local loop. A NULL vector
    * PASSES (it cannot be near anything) — the contamination gate's
    * default, not the quality gate's: null-screening is that gate's
    * job, and the two compose.
    *
    * Batch/stream agnostic: the same filter applied to a batch frame
    * is how the spec pins stream == batch verdicts. */
  def semanticGate(stream: DataFrame,
                   evalVecs: Seq[Seq[Long]]): DataFrame = {
    // Overflow guard for the integer cross-multiply: with |component|
    // ≤ 1000 and dim ≤ 128, dot ≤ 1.28·10⁸ so den²·dot² ≤ 6.6·10¹⁸ <
    // 2⁶³ — outside that domain the UDF's Long math would WRAP (not
    // throw, unlike ANSI Column arithmetic) and verdicts would flip
    // silently. Stream vectors must share the quantized domain
    // (floor(x·1000) of unit-scale embeddings, the engine-wide
    // convention); the eval side is validated here because it is the
    // frozen artifact a config error would most plausibly corrupt.
    require(evalVecs.forall(v =>
        v.length <= 128 && v.forall(x => math.abs(x) <= 1000L)),
      "semanticGate eval vectors must be quantized: dim <= 128, |component| <= 1000")
    val prepared = evalVecs.map { v =>
      val a = v.toArray
      (a, a.foldLeft(0L)((s, x) => s + x * x))
    }.toArray
    // Cache key: md5 over the SORTED per-vector md5s — order-independent
    // (an eval set is a set) but collision-resistant, unlike a
    // commutative sum of per-vector hashes (the modelDigest lesson: two
    // different vector sets with equal hash sums would silently reuse
    // the wrong prepared broadcast). Eval sets are gate-sized, so the
    // per-vector md5 pass is trivial.
    val s = stream.sparkSession
    val bc = Artifacts.cached(s, "gate-bc:sem:" + {
        val md = java.security.MessageDigest.getInstance("MD5")
        evalVecs.map { v =>
          java.security.MessageDigest.getInstance("MD5")
            .digest(v.mkString(",").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
        }.sorted.foreach(h => md.update(h.getBytes("UTF-8")))
        md.digest().map("%02x".format(_)).mkString
      })(s.sparkContext.broadcast(prepared))
    val n2 = Dedup.SemTauNum * Dedup.SemTauNum
    val d2 = Dedup.SemTauDen * Dedup.SemTauDen
    val near = udf((v: Seq[Long]) =>
      v != null && {
        val arr = v.toArray
        var bb = 0L
        var i = 0
        while (i < arr.length) { bb += arr(i) * arr(i); i += 1 }
        bc.value.exists { case (e, aa) =>
          e.length == arr.length && {
            var dot = 0L
            var j = 0
            while (j < e.length) { dot += e(j) * arr(j); j += 1 }
            dot > 0 && d2 * dot * dot >= n2 * aa * bb
          }
        }
      })
    stream.filter(!near(col("v")))
  }

  /** Minimum whitespace-token count for [[qualityGate]]: shorter texts
    * carry no usable training signal and are dropped at the door. */
  val QualityMinTokens = 5

  /** STREAMING quality gate: the stateless ingest-time form of the
    * per-doc quality screens — keep only rows whose `text` (a) is
    * non-null, (b) has ≥ `minTokens` whitespace tokens, and (c) is not
    * bigram-repetitive by `q_text_repetition`'s exact integer rule
    * (duplicated-bigram instances × 10 > total bigrams ⟹ drop). Pure
    * per-row expressions (split / array_distinct / size — all
    * codegen'd), so like [[contaminationGate]] it adds no streaming
    * state, needs no watermark, and survives replay for free; the two
    * compose into one ingest pipeline (quality first — it is cheaper —
    * then contamination). A null or short text FAILS here where the
    * contamination gate PASSES it: each default is the conservative
    * verdict for its gate (a null can't be contaminated, but it also
    * can't be trained on). Batch/stream agnostic — the batch form is
    * the same filter, which is how the spec pins stream==batch
    * verdicts. */
  def qualityGate(stream: DataFrame,
                  minTokens: Int = QualityMinTokens): DataFrame =
    // The verdict is ONE expression with the token/bigram arrays bound
    // as lambda variables (`element_at(transform(array(x), v -> …), 1)`
    // is "let v = x in …"). The spelled-out withColumn+filter form
    // reads better but is an 18× slowdown in exactly this position:
    // predicate pushdown substitutes the column aliases into the
    // filter, so the interpreted (non-codegen) transform() re-evaluates
    // per REFERENCE — 3× per row for the bigram array, with the token
    // split re-run inside each — measured 5.8 s vs 0.32 s over sf0.1
    // docs. Lambda-variable reads cost nothing, so every array here is
    // built exactly once per row no matter how the optimizer moves the
    // predicate.
    stream.filter(expr(s"""
      text IS NOT NULL AND element_at(transform(array(split(lower(text), ' ')), __toks ->
        size(__toks) >= $minTokens AND NOT (
          element_at(transform(array(CASE WHEN size(__toks) < 2 THEN array()
              ELSE transform(sequence(0, size(__toks) - 2),
                   i -> concat_ws(' ', __toks[i], __toks[i+1])) END),
            __bg -> (size(__bg) - size(array_distinct(__bg))) * 10 > size(__bg)), 1))), 1)"""))

  /** Deterministic weighted sampling per source: an md5-fold bucket in
    * [0,100) (salted 'mix:' so it is independent of `q_text_split`'s
    * buckets) keeps a doc iff bucket < the source's rate. Stable under
    * retries, additions, and repartitioning. */
  def mixSample(docs: DataFrame, rates: DataFrame): DataFrame = {
    val bucket = expr(Tables.md5FoldBucketSql(
      "concat('mix:', cast(doc_id as string))", 100))
    docs.join(broadcast(rates), Seq("lang"), "left")
      .withColumn("keep", bucket < coalesce(col("rate_pct"), lit(0L)))
      .groupBy(col("lang"), col("rate_pct"))
      .agg(count(lit(1)).as("n_total"),
        count(when(col("keep"), 1)).as("n_sampled"))
  }

  /** Target corpus size (docs) for [[mixTemperature]]'s allocation. */
  val TempMixBudget = 100000L

  /** TEMPERATURE-SCALED SOURCE MIXING — the multilingual/multi-source
    * sampling rule (mBERT/XLM-R style): raw source sizes are flattened
    * with weight c^α at α = 1/2, upweighting small sources so the head
    * source stops dominating. Exactly integer-checkable because
    * w = ⌊√c⌋ is floor'd in BOTH engines (IEEE sqrt is correctly
    * rounded, so √(k²) = k exactly for every count below 2⁵²: the
    * floor can never land on k−1 for a perfect square) and every
    * downstream division is truncating: share_bp = w·10⁴ div Σw,
    * target_docs = Budget·w div Σw, repeat_bp = target·10⁴ div c
    * (> 10⁴ ⟺ the source is OVERSAMPLED — repeated across epochs).
    *
    * Scale shape: one partial-aggregated groupBy(source) collapses the
    * corpus to |sources| rows; Σw is a 1-row frame crossJoined back
    * (the bounded-totals pattern). Nothing after the first aggregate
    * touches corpus-sized data. */
  def mixTemperature(docs: DataFrame, budget: Long = TempMixBudget): DataFrame = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", Tables.floorLong(sqrt(col("n_docs"))))
    val tot = counts.agg(sum(col("w")).as("sw"))
    counts.crossJoin(broadcast(tot)) // 1-row totals
      .select(col("source"), col("n_docs"), col("w"),
        expr("w * 10000 div sw").as("share_bp"),
        expr(s"$budget * w div sw").as("target_docs"),
        expr(s"(($budget * w div sw) * 10000) div n_docs").as("repeat_bp"))
      .orderBy("source")
  }

  /** Shard assignment by running token count within (lang, pack_group):
    * a doc goes to the shard its STARTING offset falls in —
    * (cumsum − own) div budget — so shards fill greedily and overflow
    * by at most one document. */
  def packShards(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "pack_group").orderBy("doc_id")
    docs.select(col("doc_id"), col("lang"),
        expr(s"doc_id div $PackGroup").as("pack_group"),
        expr("(n_chars + 3) div 4").as("est_tokens"))
      .withColumn("cum", sum(col("est_tokens")).over(w))
      .withColumn("shard", expr(s"(cum - est_tokens) div $PackBudget"))
      .select(col("doc_id"), col("lang"), col("pack_group"),
        col("est_tokens"), col("shard"))
  }

  /** Document-frequency cap for verbatim-span blocking: a shingle key
    * present in more than this many docs is boilerplate (licenses,
    * headers, templates) — a quadratic pair-explosion carrier, not
    * evidence of meaningful reuse between two specific docs. Pairs are
    * counted only through rarer spans; the boilerplate itself is what
    * `q_text_repetition`-style signals and frequency analyses surface.
    * This is the standard df-cap every AllPairs-style blocking carries,
    * and it is what bounds the per-key join at 100 TB: any key's pair
    * contribution is ≤ VerbatimMaxDf². */
  val VerbatimMaxDf = 64

  /** Aligned shingle MATCHES between distinct docs, derived from a
    * [[verbatimIndex]]: (sh_key, doc_a, doc_b, pos_a, diag) for every
    * co-occurrence of an index key in two docs (doc_a < doc_b). Keys
    * present in only one doc are pruned BEFORE the self-join (the same
    * df > 1 restriction the span keys always applied — a df-1 key can
    * only produce same-doc rows the a < b filter would discard after
    * paying the join). This is the shared middle of the whole span
    * family: spans counts it per pair, extents/offsets run the
    * gaps-and-islands windows over it, removal and the char/byte cut
    * lists consume those offsets. */
  private[graft] def verbatimMatchesFrom(index: DataFrame): DataFrame = {
    val multi = index.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 1).select("sh_key")
    val shr = index.join(multi, Seq("sh_key"))
    shr.as("a").join(shr.as("b"), Seq("sh_key"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("sh_key"),
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
  }

  /** Every maximal run from a prebuilt match frame — the
    * gaps-and-islands tail shared by extents/offsets/removal/cut-list:
    * consecutive positions within one (pair, diagonal) form an island;
    * each island is (start_a, start_b, run_tokens). */
  private[graft] def verbatimOffsetsFrom(m: DataFrame, width: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    m.withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min(col("pos_a")).as("start_a"),
        (count(lit(1)) + width - 1).as("run_tokens"))
      .select(col("doc_a"), col("doc_b"), col("start_a"),
        (col("start_a") - col("diag")).as("start_b"), col("run_tokens"))
  }

  /** The SHARED span-family artifacts, one build per (session, dir) —
    * round-9 verdict item 4: the five batch span keys each re-derived
    * the identical positions-aware shingle pipeline; now the
    * [[verbatimIndex]] is built once (the artifact a production
    * pipeline persists next to the corpus — the incremental key
    * already consumes exactly this form), the match frame and run
    * offsets derive from it once, and every batch key is a cheap view.
    * Values are byte-identical to each key's own derivation (same
    * index, same windows), so every oracle hash is unchanged. */
  /** STORE form of [[verbatimIndex]] (round-19, the span family's
    * append-merge): position rows carry their key's full-corpus df,
    * capped-OUT keys keep one marker row (doc_id/pos NULL) recording
    * df, and every row carries the build width `w`. The df column and
    * the markers are exactly what makes the index mergeable under
    * append — df is additive over disjoint doc sets, and the marker
    * distinguishes "df > cap" from "df = 0" so a capped-out key can
    * never sneak back in as delta-only. Marker volume is the
    * boilerplate key set (small by definition); the df column
    * RLE-compresses. */
  private[graft] def verbatimIndexStore(docs: DataFrame, width: Int)
      : DataFrame = {
    val sh = shinglesWithPos(docs, width)
    val dfs = sh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("df"))
    val pos = sh.join(dfs.filter(col("df") <= VerbatimMaxDf), Seq("sh_key"))
      .select(col("sh_key"), col("doc_id"), col("pos"), col("df"))
    val markers = dfs.filter(col("df") > VerbatimMaxDf)
      .select(col("sh_key"), lit(null).cast("long").as("doc_id"),
        lit(null).cast("int").as("pos"), col("df"))
    pos.unionByName(markers).withColumn("w", lit(width))
  }

  /** vb_index APPEND-MERGE — the df-merge argument made code: under an
    * append the doc sets are disjoint (the corpus contract every
    * per-doc union merge assumes: ingest never re-issues a doc_id), so
    * df_new(key) = df_old + df_delta per key. Only DELTA-TOUCHED keys
    * can change, and their old rows are cap-bounded (≤ VerbatimMaxDf
    * positions per key, or one marker), so every combination join
    * broadcasts the delta-derived side and the settled store streams
    * map-side:
    *   - untouched keys pass through verbatim;
    *   - touched keys still under the cap keep old ∪ delta positions
    *     at the bumped df;
    *   - keys CROSSING the cap drop their positions and leave a marker
    *     (monotone: df only grows under append, so capped-out keys
    *     never return);
    *   - a capped-out marker just bumps its df.
    * DECLINES across a [[deriveShingleWidth]] step (the key space
    * itself changes — old rows are not the restriction of the new
    * build; the derivePlanes convention). */
  private[graft] def verbatimIndexMerged(width: Int)(
      old: DataFrame, deltaRaw: DataFrame): Option[DataFrame] = {
    val wOld = old.select("w").limit(1).collect().headOption.map(_.getInt(0))
    if (!wOld.contains(width)) return None
    val dsh = shinglesWithPos(
      deltaRaw.select(col("doc_id"), col("text")), width)
    val deltaDf = dsh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("dfd")).localCheckpoint(true)
    // df_old per delta-touched key — bounded: ≤ cap position rows or
    // one marker per key, keys limited to the delta's own key set.
    val touchedOld = old
      .join(broadcast(deltaDf.select("sh_key")), Seq("sh_key"), "left_semi")
      .groupBy("sh_key").agg(max(col("df")).as("dfo"))
    val perKey = deltaDf.join(touchedOld, Seq("sh_key"), "left")
      .select(col("sh_key"), col("dfd"), coalesce(col("dfo"), lit(0L)).as("dfo"))
      .withColumn("dfn", col("dfo") + col("dfd"))
      .localCheckpoint(true)
    val underCap = perKey.filter(col("dfn") <= VerbatimMaxDf)
      .select(col("sh_key"), col("dfn"))
    val overCap = perKey.filter(col("dfn") > VerbatimMaxDf)
      .select(col("sh_key"), col("dfn"))
    val untouched = old
      .join(broadcast(perKey.select("sh_key")), Seq("sh_key"), "left_anti")
    val keptTouched = old.filter(col("doc_id").isNotNull)
      .join(broadcast(underCap), Seq("sh_key"))
      .select(col("sh_key"), col("doc_id"), col("pos"),
        col("dfn").as("df"), col("w"))
    val deltaPos = dsh.join(broadcast(underCap), Seq("sh_key"))
      .select(col("sh_key"), col("doc_id"), col("pos"),
        col("dfn").as("df"), lit(width).as("w"))
    val markers = overCap
      .select(col("sh_key"), lit(null).cast("long").as("doc_id"),
        lit(null).cast("int").as("pos"), col("dfn").as("df"),
        lit(width).as("w"))
    Some(untouched.unionByName(keptTouched).unionByName(deltaPos)
      .unionByName(markers))
  }

  /** The persisted [[verbatimIndexStore]] with the merge lane wired —
    * the root of the whole span-family chain: matches and offsets now
    * BUILD FROM THIS TABLE, so even their cold rebuilds never
    * re-shingle the corpus; only the index's own cold build (first
    * contact or a declined merge) pays the shingle pass. */
  private def verbatimIndexArtifact(s: SparkSession, dir: String): DataFrame =
    Artifacts.cached(s, s"verbatim-index:$dir") {
      val nDocs = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
      val width = deriveShingleWidth(nDocs)
      graft.sources.Warehouse.servedFrameMerged(
        s, "vb_index", dir, "documents",
        graft.sources.Warehouse.docsFp(s, dir))(
        verbatimIndexStore(Tables.documents(s, dir), width))(
        verbatimIndexMerged(width))
    }

  /** The persisted corpus-side index of the INCREMENTAL verbatim key —
    * [[verbatimIndexStore]] over the settled slice (doc_id % 5 ≠ 0) at
    * the full-corpus derived width (round-22): the key's doc always
    * said "the corpus's positions-aware shingle index is built once
    * and PERSISTED (localCheckpoint stands in for the write)"; the
    * stand-in is now retired like the minhash/decontaminate
    * incrementals' (round-17 pattern). The store's position rows
    * (df ≤ cap) ARE [[verbatimIndex]]'s rows over the slice — the
    * df-capped key set is identical, markers are filtered at the read
    * — so store-fed ≡ inline and the oracle's from-scratch replay is
    * unchanged. Append-merge: [[verbatimIndexMerged]] over the delta's
    * settled-slice rows (df additivity holds on any disjoint doc
    * split); a width step declines inside the shared callback. */
  private[graft] def vbIncIndexArtifact(s: SparkSession,
                                        dir: String): DataFrame =
    Artifacts.cached(s, s"vb-inc-index:$dir") {
      val nDocs = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
      val width = deriveShingleWidth(nDocs)
      graft.sources.Warehouse.servedFrameMerged(
        s, "vb_inc_idx", dir, "documents",
        graft.sources.Warehouse.docsFp(s, dir))(
        verbatimIndexStore(
          Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0), width))(
        (old, delta) => verbatimIndexMerged(width)(
          old, delta.filter(col("doc_id") % 5 =!= 0)))
    }

  /** Crossed-THIS-STEP keys, recomputable without the superseded index
    * variant: a marker in the NEW index whose pre-delta df
    * (df − delta df) was at or under the cap must have crossed on this
    * append. Small by construction (⊆ the delta's key set). */
  private def crossedKeys(index: DataFrame, deltaDf: DataFrame): DataFrame =
    index.filter(col("doc_id").isNull)
      .join(broadcast(deltaDf), Seq("sh_key"))
      .filter(col("df") - col("dfd") <= VerbatimMaxDf)
      .select("sh_key")

  /** vb_matches APPEND-MERGE: the new-state pair set partitions into
    * settled×settled pairs — identical to the old store except pairs
    * through keys that CROSSED the cap (removed) — and pairs touching
    * the delta, recomputed from the (cap-bounded) new-index slice of
    * delta-touched keys. A settled×settled pair through a touched key
    * needs df_old ≥ 2, so it already sits in the old store — the
    * ≥1-delta-side filter is exact, not an approximation. */
  private[graft] def verbatimMatchesMerged(
      width: Int, index: DataFrame)(
      old: DataFrame, deltaRaw: DataFrame): Option[DataFrame] = {
    val wOld = old.select("w").limit(1).collect().headOption.map(_.getInt(0))
    if (!wOld.contains(width)) return None
    val dsh = shinglesWithPos(
      deltaRaw.select(col("doc_id"), col("text")), width)
    val deltaDf = dsh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("dfd")).localCheckpoint(true)
    val crossed = crossedKeys(index, deltaDf).localCheckpoint(true)
    val keptOld = old.drop("w")
      .join(broadcast(crossed), Seq("sh_key"), "left_anti")
    val slice = index.filter(col("doc_id").isNotNull)
      .join(broadcast(deltaDf.select("sh_key")), Seq("sh_key"), "left_semi")
      .select("sh_key", "doc_id", "pos").localCheckpoint(true)
    val dd = deltaRaw.select("doc_id").distinct()
      .withColumn("isd", lit(true)).localCheckpoint(true)
    val touching = verbatimMatchesFrom(slice)
      .join(broadcast(dd.select(col("doc_id").as("doc_a"),
        col("isd").as("ia"))), Seq("doc_a"), "left")
      .join(broadcast(dd.select(col("doc_id").as("doc_b"),
        col("isd").as("ib"))), Seq("doc_b"), "left")
      .filter(col("ia").isNotNull || col("ib").isNotNull)
      .select(col("sh_key"), col("doc_a"), col("doc_b"),
        col("pos_a"), col("diag"))
    Some(keptOld.unionByName(touching).withColumn("w", lit(width)))
  }

  /** The persisted match frame, now BUILT FROM the index store (no
    * re-shingle on any lane) with the append-merge wired. The `w`
    * column is store-internal (the merge's width-step witness) — the
    * accessor drops it, so every consumer sees the round-9 schema. */
  private def verbatimMatchesArtifact(s: SparkSession, dir: String): DataFrame = {
    val index = verbatimIndexArtifact(s, dir)
    Artifacts.cached(s, s"verbatim-matches:$dir") {
      val nDocs = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
      val width = deriveShingleWidth(nDocs)
      graft.sources.Warehouse.servedFrameMerged(
        s, "vb_matches", dir, "documents",
        graft.sources.Warehouse.docsFp(s, dir))(
        verbatimMatchesFrom(index.filter(col("doc_id").isNotNull)
          .select("sh_key", "doc_id", "pos")).withColumn("w", lit(width)))(
        verbatimMatchesMerged(width, index))
    }.drop("w")
  }

  /** vb_offsets APPEND-MERGE: pairs partition (settled×settled pairs'
    * islands are untouched; touching pairs are NEW — a pair with a
    * delta side cannot exist in the old store), so the merged frame is
    * old offsets ∪ offsetsFrom(touching pairs' full match slices).
    * DECLINES when any key crossed the cap this step: a crossed key
    * deletes match rows from settled×settled pairs, whose islands
    * would need recomputing — and the decline's cold lane is itself
    * cheap now (one window pass over the already-merged matches table,
    * no shingling). */
  private[graft] def verbatimOffsetsMerged(
      width: Int, index: DataFrame, matches: DataFrame)(
      old: DataFrame, deltaRaw: DataFrame): Option[DataFrame] = {
    val wOld = old.select("w").limit(1).collect().headOption.map(_.getInt(0))
    if (!wOld.contains(width)) return None
    val dsh = shinglesWithPos(
      deltaRaw.select(col("doc_id"), col("text")), width)
    val deltaDf = dsh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("dfd")).localCheckpoint(true)
    if (crossedKeys(index, deltaDf).limit(1).count() > 0) return None
    val dd = deltaRaw.select("doc_id").distinct()
      .withColumn("isd", lit(true)).localCheckpoint(true)
    val touchingPairs = matches
      .join(broadcast(dd.select(col("doc_id").as("doc_a"),
        col("isd").as("ia"))), Seq("doc_a"), "left")
      .join(broadcast(dd.select(col("doc_id").as("doc_b"),
        col("isd").as("ib"))), Seq("doc_b"), "left")
      .filter(col("ia").isNotNull || col("ib").isNotNull)
      .select("doc_a", "doc_b").distinct().localCheckpoint(true)
    val slice = matches.join(broadcast(touchingPairs),
      Seq("doc_a", "doc_b"), "left_semi")
    val keptOld = old.drop("w")
      .join(broadcast(touchingPairs), Seq("doc_a", "doc_b"), "left_anti")
    Some(keptOld.unionByName(verbatimOffsetsFrom(slice, width))
      .withColumn("w", lit(width)))
  }

  /** The persisted run offsets, BUILT FROM the matches table with the
    * append-merge wired; `w` is store-internal, dropped here. */
  private def verbatimOffsetsArtifact(s: SparkSession, dir: String): DataFrame = {
    // Dependency artifacts resolved BEFORE the cached block (the
    // Similarity/Multimodal convention — keeps build units small and
    // the nested-computeIfAbsent crash class structurally impossible).
    val index = verbatimIndexArtifact(s, dir)
    val matches = verbatimMatchesArtifact(s, dir)
    Artifacts.cached(s, s"verbatim-offsets:$dir") {
      val nDocs = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
      val width = deriveShingleWidth(nDocs)
      graft.sources.Warehouse.servedFrameMerged(
        s, "vb_offsets", dir, "documents",
        graft.sources.Warehouse.docsFp(s, dir))(
        verbatimOffsetsFrom(matches, width).withColumn("w", lit(width)))(
        verbatimOffsetsMerged(width, index, matches))
    }.drop("w")
  }

  /** Longest shared verbatim token run per doc pair — see the
    * `q_verbatim_extents` entry for the algorithm (diagonal alignment +
    * gaps-and-islands runs over positions-aware rolling-hash shingles).
    * Exposed so specs can prove exact run lengths on planted reuse. */
  def verbatimExtents(docs: DataFrame, width: Int): DataFrame =
    verbatimOffsetsFrom(
      verbatimMatchesFrom(verbatimIndex(docs, width)), width)
      .groupBy("doc_a", "doc_b")
      .agg(max(col("run_tokens")).as("max_run_tokens"))

  /** Every maximal shared verbatim run per doc pair WITH its offsets —
    * the removal-ready form of [[verbatimExtents]]: (start_a, start_b,
    * run_tokens) says exactly which token span of doc_a duplicates
    * which span of doc_b, so a substring-dedup pass (Lee et al.'s end
    * goal) can CUT the span, not just measure it. Same diagonal
    * alignment + gaps-and-islands grouping; the island's min(pos_a) is
    * the run start on the a side, and start_b = start_a − diag by the
    * diagonal's definition. Each island is one output row, so a run
    * interrupted by a df-capped boilerplate shingle splits into two
    * reported runs — the documented VerbatimMaxDf trade, unchanged.
    * (start_a, start_b) is unique per pair (islands on one diagonal
    * are disjoint), so the ordering is total and deterministic. */
  def verbatimOffsets(docs: DataFrame, width: Int): DataFrame =
    verbatimOffsetsFrom(
      verbatimMatchesFrom(verbatimIndex(docs, width)), width)

  /** Substring DEDUP — the consumer of [[verbatimOffsets]] and the Lee
    * et al. end goal: CUT every shared verbatim run of ≥ `minRun`
    * tokens from the HIGHER-id doc of each pair (keep-first policy:
    * the lowest doc_id keeps its copy — deterministic, no coordination
    * needed), and reassemble the surviving tokens. Output per doc:
    * (doc_id, n_tokens, n_removed, text_clean). Overlapping spans from
    * different pairs union naturally (a token is removed if ANY span
    * covers it); docs in no pair pass through unchanged.
    *
    * Scale shape: spans are the df-capped offsets output (bounded per
    * key), reduce to one interval-array row per affected doc, and meet
    * the corpus on a doc_id equi join — one shuffle keyed by doc_id;
    * the membership test is a codegen'd higher-order filter over each
    * doc's own tokens (no explode of the corpus). `minRun` defaults to
    * the shingle width (every detected run — the most aggressive
    * setting); production pipelines tune it upward (Lee et al. remove
    * spans ≥ 50 tokens). */
  def verbatimRemove(docs: DataFrame, width: Int,
                     minRun: Long = 0L): DataFrame =
    verbatimRemoveFrom(docs, verbatimOffsets(docs, width), width, minRun)

  /** [[verbatimRemove]] over PREBUILT offsets — the consumer form for
    * callers holding the shared offsets artifact. */
  def verbatimRemoveFrom(docs: DataFrame, offsets: DataFrame, width: Int,
                         minRun: Long = 0L): DataFrame =
    cutSpans(docs,
      offsets
        .filter(col("run_tokens") >= math.max(minRun, width))
        .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
          (col("start_b") + col("run_tokens") - 1).as("e")))

  /** The BYTE-LEVEL cut list — [[verbatimOffsets]] re-expressed in
    * CHARACTER offsets into the ORIGINAL text: each removal span on the
    * cut side (doc_b, the keep-first policy's higher id) as
    * (doc_id, s, e, char_start, char_end, span_text) where
    * [char_start, char_end) is the 0-based half-open character interval
    * occupied by tokens s..e. A consumer holding raw document bytes
    * (original files, an object store) can cut spans WITHOUT
    * re-tokenizing — [[verbatimRemove]] rebuilds text from tokens,
    * which forces the consumer to adopt this engine's tokenizer; the
    * char form makes the cut list tokenizer-independent at the
    * interface. span_text is included so the artifact is
    * self-verifying: substring(text, char_start+1, char_end−char_start)
    * must BE the duplicated run.
    *
    * Offset arithmetic (single-space tokenization, so it is exact):
    * char_start(s) = len(join(toks[0..s−1])) + 1 for s > 0 (the +1 is
    * the separator after token s−1), 0 at s = 0; char_end(e) =
    * len(join(toks[0..e])). Pure length/concat arithmetic both engines
    * evaluate identically ⟹ oracle-exact, span text included. The same
    * span of doc_b may be shared with several doc_a partners — the cut
    * list is per (doc_id, s, e), so partners collapse via DISTINCT.
    *
    * Scale shape: spans are the df-capped offsets output; the char
    * arithmetic runs on a doc_id equi join against only the AFFECTED
    * docs (inner join), each row touching one doc's own token array —
    * no explode, no window. */
  def verbatimCharSpans(docs: DataFrame, width: Int): DataFrame =
    verbatimCharSpansFrom(docs, verbatimOffsets(docs, width))

  /** [[verbatimCharSpans]] over PREBUILT offsets. */
  def verbatimCharSpansFrom(docs: DataFrame, offsets: DataFrame): DataFrame =
    charOffsetBase(docs, offsets)
      .select(col("doc_id"), col("s"), col("e"),
        col("char_start"), col("char_end"),
        expr("""substring(text, cast(char_start + 1 as int),
                          cast(char_end - char_start as int))""").as("span_text"))

  /** The BYTE-offset twin of [[verbatimCharSpans]] — for consumers
    * indexing raw UTF-8 bytes (mmap'd corpora, byte-range stores):
    * [byte_start, byte_end) is the octet interval of the same span.
    * Bytes derive from the char offsets by encoding the char prefix
    * (`octet_length(substring(text, 1, char_start))`) — exact for any
    * multibyte content, and self-verifying the same way (span_text is
    * the decoded bytes at the offsets; PipelineSpec slices the UTF-8
    * bytes directly on a planted multibyte fixture). Identical scale
    * shape: per-row arithmetic on AFFECTED docs only. */
  def verbatimByteSpans(docs: DataFrame, width: Int): DataFrame =
    verbatimByteSpansFrom(docs, verbatimOffsets(docs, width))

  /** [[verbatimByteSpans]] over PREBUILT offsets. */
  def verbatimByteSpansFrom(docs: DataFrame, offsets: DataFrame): DataFrame =
    charOffsetBase(docs, offsets)
      .select(col("doc_id"), col("s"), col("e"),
        expr("cast(octet_length(substring(text, 1, cast(char_start as int))) as bigint)")
          .as("byte_start"),
        expr("cast(octet_length(substring(text, 1, cast(char_end as int))) as bigint)")
          .as("byte_end"),
        expr("""substring(text, cast(char_start + 1 as int),
                          cast(char_end - char_start as int))""").as("span_text"))

  /** Shared body of the char/byte cut lists: DISTINCT removal spans
    * (partner-collapsed) joined onto only the AFFECTED docs, with the
    * char interval of each token span computed from the doc's own
    * token array — no explode, no window. */
  private def charOffsetBase(docs: DataFrame, offsets: DataFrame): DataFrame = {
    val spans = offsets
      .select(col("doc_b").as("doc_id"), col("start_b").as("s"),
        (col("start_b") + col("run_tokens") - 1).as("e"))
      .distinct()
    docs.select(col("doc_id"), col("text"))
      .join(spans, Seq("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("char_start",
        when(col("s") === 0, lit(0L))
          .otherwise((length(expr("concat_ws(' ', slice(toks, 1, s))")) + lit(1))
            .cast("long")))
      .withColumn("char_end",
        length(expr("concat_ws(' ', slice(toks, 1, e + 1))")).cast("long"))
  }

  /** Cut token intervals `(doc_id, s, e)` out of `docs(doc_id, text)`
    * and reassemble: the shared tail of the full and incremental
    * removal paths. Spans reduce to ONE interval-array row per
    * affected doc, meet the corpus on a doc_id equi join, and the
    * membership test is a codegen'd higher-order filter over each
    * doc's own token array — overlapping spans union naturally, the
    * corpus never explodes. */
  private def cutSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val iv = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("iv"))
    docs.join(iv, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("toks"), col("iv"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        expr("""filter(transform(toks, (t, p) -> named_struct('t', t, 'p', p)),
                       x -> iv IS NULL OR NOT exists(iv, r -> x.p >= r.s AND x.p <= r.e))""")
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        expr("concat_ws(' ', transform(kept, x -> x.t))").as("text_clean"))
  }

  /** The persisted POSITIONS-AWARE shingle index of the existing
    * corpus: (sh_key, doc_id, pos) for every shingle key at or under
    * the boilerplate df cap. A production pipeline writes this once
    * next to the corpus (it is the substring-dedup analog of the
    * MinHash band index and the eval shingle index) and cleans every
    * arriving batch against it — the corpus is never re-shingled, let
    * alone re-paired. */
  def verbatimIndex(docs: DataFrame, width: Int): DataFrame = {
    val sh = shinglesWithPos(docs, width)
    val capped = sh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= VerbatimMaxDf)
      .select("sh_key")
    sh.join(capped, Seq("sh_key"))
  }

  /** Clean ONE arriving batch against a persisted [[verbatimIndex]]:
    * the ingest-time form of [[verbatimRemove]]. Policy — the
    * production "arriving data defers to existing data" rule:
    *   (a) a span shared with ANY corpus doc is cut from the batch
    *       doc (the corpus keeps its copy regardless of ids);
    *   (b) within the batch, keep-first by doc_id (same rule as the
    *       full path).
    * Spans are found by the same diagonal + gaps-and-islands
    * arithmetic, with islands grouped on the BATCH side's positions.
    * Cost per batch: batch-linear shingling + one equi join against
    * the index on 8-byte keys + a batch-local self-join — independent
    * of corpus size, the shape that keeps substring dedup running
    * when the corpus is 100 TB and the batch is GBs. Corpus-df caps
    * come from the index (built at corpus scale); batch-batch keys
    * are capped within the batch. */
  def verbatimRemoveBatch(batch: DataFrame, index: DataFrame,
                          width: Int): DataFrame = {
    // ONE batch shingling (round-21, guide §2.4): bsh feeds the index
    // join, the rare-key aggregate, and both sides of the batch-local
    // self-join — left lazy, Catalyst re-derived the tokenize + md5
    // fold + posexplode subtree five times (the measured plan scanned
    // documents 5× with no pushed batch filter). The frame is
    // batch-sized (tokens × batch docs); values unchanged.
    val bsh = shinglesWithPos(batch, width).localCheckpoint(true)
    val mc = bsh.as("b").join(index.as("c"), Seq("sh_key"))
      .select(col("b.doc_id").as("bdoc"), col("c.doc_id").as("odoc"),
        col("b.pos").as("bpos"), (col("b.pos") - col("c.pos")).as("diag"))
    val bRare = bsh.groupBy("sh_key")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 1 && col("df") <= VerbatimMaxDf)
      .select("sh_key")
    val bshr = bsh.join(bRare, Seq("sh_key"))
    val mb = bshr.as("x").join(bshr.as("y"), Seq("sh_key"))
      .filter(col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("bdoc"), col("y.doc_id").as("odoc"),
        col("x.pos").as("bpos"), (col("x.pos") - col("y.pos")).as("diag"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bdoc", "odoc", "diag").orderBy("bpos")
    val spans = mc.unionByName(mb)
      .withColumn("grp", col("bpos") - row_number().over(w))
      .groupBy("bdoc", "odoc", "diag", "grp")
      .agg(min(col("bpos")).as("s"),
        (count(lit(1)) + width - 1).as("len"))
      .select(col("bdoc").as("doc_id"), col("s"),
        (col("s") + col("len") - 1).as("e"))
    cutSpans(batch, spans)
  }

  /** The DATA-RECIPE calculation: given per-source mixing weights and
    * a total token budget, how many tokens each source must contribute
    * (target = budget × weight / Σweights) and how many EPOCHS of the
    * available data that takes (repeat = ⌈target / available⌉ — the
    * up-sampling factor; > 1 means the source repeats, the standard
    * small-high-quality-source treatment). Every serious pretraining
    * mix publishes exactly this table (epochs per source); computing
    * it is two tiny aggregates — the corpus contributes one
    * sum-of-est-tokens row per language (map-side partials), the rates
    * table broadcasts, all arithmetic exact integer ceil-div so the
    * oracle matches bit-for-bit. Languages with no weight row are
    * reported 'excluded' with target 0 — visible, not dropped. */
  def corpusRecipe(docs: DataFrame, rates: DataFrame,
                   budget: Long = RecipeBudget): DataFrame = {
    val avail = docs
      .groupBy("lang")
      .agg(sum(expr("(n_chars + 3) div 4")).as("available_tokens"))
    val rateSum = rates.agg(sum("rate_pct").as("rate_sum"))
    avail.join(broadcast(rates), Seq("lang"), "left")
      .crossJoin(broadcast(rateSum)) // 1-row weight normalizer
      .withColumn("target_tokens",
        expr(s"(${budget}L * coalesce(rate_pct, 0)) div rate_sum"))
      .select(col("lang"), col("available_tokens"),
        col("target_tokens"),
        // available_tokens = 0 (a language whose docs all estimate 0
        // tokens) guards the ceil-div: no data ⟹ no repeat factor —
        // 0, not a NULL (and not the DuckDB division error the
        // unguarded oracle would throw; round-9 advice).
        when(col("target_tokens") === 0 || col("available_tokens") === 0,
          lit(0L))
          .otherwise(expr(
            "(target_tokens + available_tokens - 1) div available_tokens"))
          .as("repeat_factor"),
        when(col("target_tokens") === 0, "excluded")
          .when(col("target_tokens") > col("available_tokens"), "upsampled")
          .otherwise("sampled").as("status"))
  }

  /** Range-bucket count for [[recipeExpand]]'s distributed prefix sum
    * — the greedy remainder fill needs a cumulative token sum in hash
    * order, and a single per-lang window serializes the whole language
    * through one task. Bucketing the 60-bit hash RANGE into
    * `ExpandBuckets` contiguous slices keeps every window bounded:
    * per-bucket totals are a tiny aggregate, bucket offsets a
    * `ExpandBuckets`-row window, and the within-bucket cumulative sum
    * sees 1/`ExpandBuckets` of the language. Ordering by (bucket, hk,
    * doc_id) equals global (hk, doc_id) order because buckets are hash
    * RANGES — which is exactly what the oracle's single-window twin
    * checks. */
  val ExpandBuckets = 32
  /** Hash domain for the expansion order key (md5-fold mod this). */
  val ExpandHashMod = 1000000

  /** EXECUTE the data recipe: per-doc copy counts that realize
    * [[corpusRecipe]]'s targets. Every doc of a language gets
    * `target div available` full-epoch copies; the remainder
    * (`target mod available` tokens) is filled by a deterministic
    * greedy prefix in md5-hash order — docs whose cumulative token
    * count precedes the remainder boundary get one extra copy. Hash
    * order makes the partial epoch an unbiased, reproducible sample
    * (same posture as `q_corpus_mix`'s rate hashing); the boundary doc
    * completes rather than splits, the standard overshoot-by-<1-doc
    * rule. Languages with no weight get n_copies = 0 — visible, not
    * dropped. */
  def recipeExpand(docs: DataFrame, rates: DataFrame,
                   budget: Long = RecipeBudget): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val recipe = corpusRecipe(docs, rates, budget)
      .select(col("lang"), col("available_tokens"), col("target_tokens"))
    val d = docs.select(col("doc_id"), col("lang"),
        expr("(n_chars + 3) div 4").as("est_tokens"),
        expr(Tables.md5FoldBucketSql("cast(doc_id as string)", ExpandHashMod))
          .as("hk"))
      .withColumn("bkt", expr(s"hk div ${ExpandHashMod / ExpandBuckets}"))
    // Distributed prefix sum: per-(lang, bucket) totals partial-
    // aggregate; offsets ride a ≤ExpandBuckets-row window per lang;
    // the cumulative window is bounded to one bucket.
    val bsums = d.groupBy("lang", "bkt").agg(sum("est_tokens").as("bsum"))
    val offsets = bsums
      .withColumn("offset", coalesce(
        sum("bsum").over(w.partitionBy("lang").orderBy("bkt")
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
      .select(col("lang"), col("bkt"), col("offset"))
    val cum = d.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("cum_before", col("offset") + coalesce(
        sum("est_tokens").over(w.partitionBy("lang", "bkt")
          .orderBy(col("hk"), col("doc_id"))
          .rowsBetween(w.unboundedPreceding, -1)), lit(0L)))
    cum.join(broadcast(recipe), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("est_tokens"),
        // Same available_tokens = 0 guard as corpusRecipe: a language
        // with no estimable tokens expands to 0 copies instead of
        // tripping ANSI div-by-zero here / a division error in DuckDB.
        when(col("available_tokens") === 0, lit(0L))
          .otherwise(expr("target_tokens div available_tokens") +
            when(col("cum_before") < expr("target_tokens % available_tokens"),
              lit(1L)).otherwise(lit(0L))).as("n_copies"))
  }

  /** Per-lang median/MAD outlier verdicts over (doc_id, lang, n_chars)
    * — see the `q_quality_outliers` entry for the rationale. Exposed so
    * specs can drive the real logic on planted heavy-tail frames (the
    * driver corpora are uniform: max deviation = 2×MAD, correctly zero
    * outliers, so the flag branch needs planted data). */
  def qualityOutliers(docs: DataFrame): DataFrame = {
    val med = docs.groupBy("lang")
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val withMed = docs.join(broadcast(med), Seq("lang"))
    val mad = withMed.groupBy("lang")
      .agg(expr("percentile(abs(n_chars - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("med"), col("mad"),
        when(abs(col("n_chars") - col("med")) > col("mad") * 3.0, "outlier")
          .otherwise("ok").as("verdict"))
  }

  /** The 100 TB twin of [[qualityOutliers]]: same two aggregate→
    * broadcast rounds and the same median/MAD verdict rule, but both
    * medians come from `percentile_approx`'s bounded Greenwald-Khanna
    * sketch — aggregation-buffer size scales with the accuracy knob,
    * not the per-language group size, which is what makes the screen
    * runnable when one language holds billions of documents (the exact
    * variant buffers every value of the group: executor-OOM at scale).
    * accuracy=10000 ⟹ rank error ≤ 0.01% of the group; the verdict has
    * a 3×MAD margin, so a sub-0.01%-rank shift in med/mad flips a
    * verdict only for docs sitting exactly at the threshold. No DuckDB
    * oracle (sketches differ across engines — the HLL split);
    * PipelineSpec pins approx-vs-exact verdict agreement on planted
    * heavy tails instead. */
  def qualityOutliersApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame = {
    val med = docs.groupBy("lang")
      .agg(expr(s"percentile_approx(n_chars, 0.5, $accuracy)")
        .cast("double").as("med"))
    val withMed = docs.join(broadcast(med), Seq("lang"))
    val mad = withMed.groupBy("lang")
      .agg(expr(s"percentile_approx(abs(n_chars - med), 0.5, $accuracy)")
        .cast("double").as("mad"))
    withMed.join(broadcast(mad), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("med"), col("mad"),
        when(abs(col("n_chars") - col("med")) > col("mad") * 3.0, "outlier")
          .otherwise("ok").as("verdict"))
  }

  /** Fixed-point scale for the importance ratio — 1e6 = "exactly as
    * target-like as the raw corpus"; per-instance ratios stay inside
    * BIGINT through sf0.1 (Scale·cf_t·N_raw ≤ ~5e17); at corpus sizes
    * where the product would overflow, the ratio folds at a reduced
    * scale or through DECIMAL(38) — the documented seam. */
  val DsirScale = 1000000L

  /** Target-distribution slice for importance weighting: one source
    * stands in for the curated high-quality reference corpus (DSIR
    * targets Wikipedia/books; the driver corpus's `src0` plays that
    * role so the two distributions are real and distinct). */
  val DsirTarget = "src0"

  /** DSIR-style IMPORTANCE WEIGHTING (Xie et al. '23, "Data Selection
    * via Importance Resampling"): score every raw doc by how much more
    * likely its tokens are under a TARGET distribution than under the
    * raw-corpus distribution, then keep the target-like slice — the
    * published alternative to classifier-based quality filtering
    * (GPT-3's LR filter) that needs no labels, only a reference corpus.
    * DSIR proper uses hashed-n-gram log-likelihood ratios; the
    * integer-exact stand-in is the fixed-point MEAN PER-INSTANCE
    * frequency ratio (mean-of-ratios rather than sum-of-log-ratios —
    * same ordering signal, no float ulp risk):
    *
    *   r(tok) = (Scale · cf_t(tok) · N_raw) div (cf_r(tok) · N_t)
    *   imp_score = Σ tf·r div Σ tf;  selected ⟺ imp_score ≥ Scale
    *
    * (a token the target never saw contributes 0 — the smoothing-free
    * DSIR convention for out-of-domain mass). Scale shape: tf
    * partial-aggregates per (doc, token) BEFORE any join (the lmScore
    * economics — the raw and target cf frames are two more aggregates
    * of the SAME tf frame, AQE exchange reuse tokenizes once);
    * vocab-bounded cf frames broadcast when they fit; the two totals
    * fold to 1-row broadcasts; the corpus never shuffles on tokens. */
  /** FROZEN importance model — the (cf_target, cf_raw, totals) vocab
    * maps [[importanceGate]] scores against: built once from a batch
    * corpus (the artifact a production pipeline trains offline and
    * ships to the ingest door), validated non-degenerate at
    * construction. Vocab-bounded by construction — the collect is the
    * vocabulary, never the corpus; a model whose vocabulary outgrows a
    * driver map is the point where the gate swaps to the broadcast-
    * join batch form ([[importanceWeights]] on micro-batches). */
  sealed trait FrozenImportance {
    def nT: Long
    def nR: Long
  }

  final case class ImportanceModel(cfT: Map[String, Long],
                                   cfR: Map[String, Long],
                                   nT: Long, nR: Long) extends FrozenImportance {
    require(nT > 0 && nR > 0,
      s"importance model needs nonempty target and raw corpora (nT=$nT, nR=$nR)")
    // Overflow guard for the gate's per-token product Scale·cf_t·N_raw:
    // the ~5e17 BIGINT seam documented at [[DsirScale]] fails LOUDLY at
    // model construction instead of wrapping (possibly negative) and
    // silently flipping keep/drop verdicts at scoring time. BigInt only
    // here, once, on the driver — the hot path stays pure Long.
    require(cfT.isEmpty ||
        BigInt(DsirScale) * cfT.values.max * nR <= Long.MaxValue,
      s"importance model overflows the Long fixed-point seam: " +
        s"DsirScale($DsirScale) * max cf_t(${cfT.values.max}) * nR($nR) " +
        "exceeds Long.MaxValue — retrain at a reduced scale or score " +
        "through DECIMAL(38) (see DsirScale doc)")
  }

  /** Join-form frozen importance model — the auto-routed shape when the
    * training vocabulary outgrows the driver-map cap: the (tok, cf_t,
    * cf_r) frame stays DISTRIBUTED (persisted, vocab-sized — never the
    * corpus) and scoring joins against it per micro-batch instead of
    * probing a broadcast map. Same totals, same fixed-point arithmetic;
    * [[importanceGate]] dispatches on the model shape so callers train
    * once and never branch. */
  final case class ImportanceModelFrames(cf: DataFrame,
                                         nT: Long, nR: Long) extends FrozenImportance {
    require(nT > 0 && nR > 0,
      s"importance model needs nonempty target and raw corpora (nT=$nT, nR=$nR)")
  }

  object ImportanceModel {
    /** Driver-map vocab ceiling: ~2e7 entries × ~100 B/entry ≈ 2 GB of
      * driver heap — past this the collect itself is the scale bug, so
      * [[fromCorpus]] routes to the join form instead of collecting. */
    val MaxBroadcastVocab = 20000000L

    /** Train from a batch corpus: the same tf → cf frames as
      * [[importanceWeights]]. The vocabulary is COUNTED before anything
      * is collected (one more aggregate of the same tf frame — the
      * probe costs a vocab-sized count, never a corpus pass): under
      * `maxVocab` the cf frames collect to driver maps (broadcast-UDF
      * gate, streaming-capable); over it the frames persist distributed
      * and the gate scores by join per micro-batch. The unguarded
      * collect-first shape is structurally gone. */
    def fromCorpus(docs: DataFrame,
                   maxVocab: Long = MaxBroadcastVocab): FrozenImportance = {
      val tf = docs.select(col("source"),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
      val cf = tf.groupBy("tok").agg(
        sum(when(col("source") === DsirTarget, col("tf"))).as("cf_t"),
        sum(col("tf")).as("cf_r"))
      cf.persist()
      val vocab = cf.count()
      val totals = cf.agg(
        coalesce(sum(col("cf_t")), lit(0L)).as("n_t"),
        coalesce(sum(col("cf_r")), lit(0L)).as("n_r"),
        coalesce(max(col("cf_t")), lit(0L)).as("max_cf_t")).head()
      val (nT, nR, maxCfT) =
        (totals.getLong(0), totals.getLong(1), totals.getLong(2))
      // The join form shares the map form's Long fixed-point seam —
      // same loud construction-time guard (ImportanceModel's own
      // require covers the map branch).
      require(BigInt(DsirScale) * maxCfT * nR <= Long.MaxValue,
        s"importance model overflows the Long fixed-point seam: " +
          s"DsirScale($DsirScale) * max cf_t($maxCfT) * nR($nR) " +
          "exceeds Long.MaxValue — retrain at a reduced scale or score " +
          "through DECIMAL(38) (see DsirScale doc)")
      if (vocab <= maxVocab) {
        val rows = cf.collect()
        cf.unpersist()
        val cfR = rows.map(r => r.getString(0) -> r.getLong(2)).toMap
        val cfT = rows.filter(!_.isNullAt(1))
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        ImportanceModel(cfT, cfR, nT, nR)
      } else ImportanceModelFrames(cf, nT, nR)
    }
  }

  /** STREAMING importance gate — the ingest-door form of
    * [[importanceWeights]] (the gate family's fifth tier: quality →
    * shingle → semantic → image → THIS): drop an arriving doc whose
    * DSIR score against the broadcast frozen model falls below
    * `minScore` (default [[DsirScale]] = "less target-like than the
    * raw corpus"). Stateless: no stream-side state or join, replay-
    * safe, composable with the other gates in front of an exactly-once
    * sink. The per-row UDF is justified exactly like semanticGate's
    * (the probe needs two broadcast maps, not expressible as a
    * Column); arithmetic is term-for-term importanceWeights' — same
    * fixed-point ratio, same floor division, tokenization split(" ",
    * -1) + Locale.ROOT lower so it matches Spark's split/lower on
    * every edge (trailing empties, Turkish-I) — and a token the model
    * corpus never saw contributes 0, the conservative out-of-domain
    * convention. CurationStreamSpec pins stream == batch verdicts on
    * corpus copies. Null/empty texts drop (score 0 < any positive
    * floor — degenerate input is not target-like).
    *
    * Dispatches on the frozen model's shape: a vocab-map
    * [[ImportanceModel]] scores through the broadcast UDF
    * (streaming-capable, stateless); an over-cap
    * [[ImportanceModelFrames]] routes through the broadcast/AQE-join
    * batch form — term-for-term the same fixed-point arithmetic,
    * verdict-identical by PipelineSpec — applied PER MICRO-BATCH
    * (inside foreachBatch at the ingest door; a direct streaming frame
    * is refused loudly because the per-doc score aggregate is not an
    * append-mode streaming plan). The join form keys rows by `idCol`
    * so kept rows semi-join back with duplicates preserved. */
  def importanceGate(stream: DataFrame, model: FrozenImportance,
                     minScore: Long = DsirScale,
                     idCol: String = "doc_id"): DataFrame = model match {
    case f: ImportanceModelFrames =>
      require(!stream.isStreaming,
        "join-routed importance gate scores per micro-batch: call it " +
          "on each batch DataFrame inside foreachBatch")
      require(stream.columns.contains(idCol),
        s"join-routed importance gate needs id column '$idCol' " +
          s"(have: ${stream.columns.mkString(", ")})")
      require(minScore > 0,
        "join-routed gate drops unscored (null-text) docs; a non-positive " +
          "floor would keep them in the UDF form but not here")
      val tf = stream.select(col(idCol),
          explode(split(lower(col("text")), " ")).as("tok"))
        .groupBy(idCol, "tok").agg(count(lit(1)).as("tf"))
      val kept = tf.join(f.cf, Seq("tok"), "left")
        .select(col(idCol), col("tf"),
          when(col("cf_t").isNotNull,
            expr(s"(${DsirScale}L * cf_t * ${f.nR}L) div (cf_r * ${f.nT}L)"))
            .otherwise(lit(0L)).as("r"))
        .groupBy(idCol)
        .agg(expr("sum(tf * r) div sum(tf)").as("imp_gate_score"))
        .filter(col("imp_gate_score") >= minScore)
        .select(col(idCol))
      stream.join(kept, Seq(idCol), "left_semi")
    case m: ImportanceModel => importanceGateUdf(stream, m, minScore)
  }

  private def importanceGateUdf(stream: DataFrame, model: ImportanceModel,
                                minScore: Long): DataFrame = {
    val s = stream.sparkSession
    val bc = Artifacts.cached(s, "gate-bc:imp:" + modelDigest(model))(
      s.sparkContext.broadcast(model))
    val scoreOf = udf((text: String) => {
      if (text == null) 0L
      else {
        val m = bc.value
        val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        if (toks.isEmpty) 0L
        else {
          var acc = 0L
          var i = 0
          while (i < toks.length) {
            val t = toks(i)
            val ct = m.cfT.getOrElse(t, 0L)
            if (ct > 0L) acc += DsirScale * ct * m.nR / (m.cfR(t) * m.nT)
            i += 1
          }
          acc / toks.length
        }
      }
    })
    stream.filter(scoreOf(col("text")) >= minScore)
  }

  def importanceWeights(docs: DataFrame): DataFrame = {
    // ONE corpus pass (round-21, guide §2.4): the tf frame feeds four
    // consumers below (the score join, both cf frames, and through
    // them both totals) — left lazy, Catalyst re-derives the
    // scan+explode+aggregate subtree PER CONSUMER (the measured plan
    // ran the corpus tokenize 5×, 34 Exchanges). Materializing the
    // per-doc tf once collapses that to one pass; values unchanged.
    val tf = docs.select(col("doc_id"), col("source"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cfRaw = tf.groupBy("tok").agg(sum(col("tf")).as("cf_r"))
    val cfTgt = tf.filter(col("source") === DsirTarget)
      .groupBy("tok").agg(sum(col("tf")).as("cf_t"))
    val nR = cfRaw.agg(sum(col("cf_r")).as("n_r"))
    val nT = cfTgt.agg(sum(col("cf_t")).as("n_t"))
    tf.join(cfRaw, Seq("tok"))
      .join(cfTgt, Seq("tok"), "left")
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT)) // 1-row totals
      .select(col("doc_id"), col("tf"),
        expr(s"($DsirScale * coalesce(cf_t, 0L) * n_r) div (cf_r * n_t)")
          .as("r"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        expr("sum(tf * r) div sum(tf)").as("imp_score"))
      .withColumn("selected",
        (col("imp_score") >= DsirScale).cast("int"))
  }

  /** Hashed-feature bucket count for the bigram importance tier —
    * DSIR proper hashes n-grams into 10k buckets (Xie et al. '23 §3,
    * "hashed n-gram features"); a prime keeps the modulo mixing. The
    * hash BOUNDS the model: whatever the corpus, the cf frames have
    * ≤ [[DsirBuckets]] rows — the driver-map cap is satisfied BY
    * CONSTRUCTION, which is exactly why DSIR hashes in the first
    * place (a 100 TB corpus's raw bigram vocabulary would not fit
    * anywhere). */
  val DsirBuckets = 10007

  /** The bigram feature id, as one shared definition for the batch
    * expression, the gate kernel and the DuckDB twin: md5 of
    * `w1 ⊔ w2` (space-joined), first 8 hex digits as an unsigned int,
    * mod [[DsirBuckets]]. md5 is bit-identical everywhere; the 8-digit
    * prefix fits INT64 in both engines. */
  private def bigramFeatureCol(b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(b), 1, 8), 16, 10).cast("long") % DsirBuckets

  /** The gate-kernel twin of [[bigramFeatureCol]] — byte-for-byte the
    * same md5-prefix arithmetic in JVM code (CurationStreamSpec pins
    * kernel == expression on every corpus bigram). */
  def bigramFeatureOf(w1: String, w2: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest((w1 + " " + w2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % DsirBuckets
  }

  /** DSIR importance weighting over HASHED BIGRAM features — the
    * Xie et al.-faithful feature tier ([[importanceWeights]] is the
    * unigram stand-in; DSIR proper scores hashed n-gram counts):
    * consecutive token pairs hash into [[DsirBuckets]] buckets, and
    * the same fixed-point mean-of-ratios verdict runs in bucket space:
    *
    *   f(w1,w2) = md5-bucket;  r(f) = (Scale·cf_t(f)·N_raw) div
    *                                  (cf_r(f)·N_t)
    *   imp_score = Σ tf·r div Σ tf;  selected ⟺ imp_score ≥ Scale
    *
    * Docs with fewer than 2 tokens have NO bigram features and are out
    * of this tier's domain (no output row — route degenerate docs
    * through the unigram tier or the quality gate; emitting a
    * fabricated 0 would claim a measurement that never happened).
    * Scale shape: tf partial-aggregates per (doc, bucket) BEFORE any
    * join; the cf frames are ≤ DsirBuckets rows each — they ALWAYS
    * broadcast (the hash is the cap); totals fold to 1-row broadcasts;
    * the corpus never shuffles on features. */
  def importanceWeightsBigram(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      split(lower(col("text")), " ").as("ts"))
    val bg = toks.filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        """transform(sequence(0, size(ts) - 2),
             i -> concat(ts[i], ' ', ts[i + 1]))""")).as("b"))
      .select(col("doc_id"), col("source"),
        bigramFeatureCol(col("b")).as("f"))
    // ONE corpus pass (round-21, guide §2.4 — the importanceWeights
    // rule): materialize the per-doc bucket tf once; its four
    // consumers otherwise each re-run the tokenize+md5-hash+aggregate
    // subtree (5 corpus passes in the measured 34-Exchange plan, and
    // this key was the suite's most expensive at 3.1 cpu s).
    val tf = bg.groupBy("doc_id", "source", "f")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cfRaw = tf.groupBy("f").agg(sum(col("tf")).as("cf_r"))
    val cfTgt = tf.filter(col("source") === DsirTarget)
      .groupBy("f").agg(sum(col("tf")).as("cf_t"))
    val nR = cfRaw.agg(sum(col("cf_r")).as("n_r"))
    val nT = cfTgt.agg(sum(col("cf_t")).as("n_t"))
    tf.join(broadcast(cfRaw), Seq("f"))
      .join(broadcast(cfTgt), Seq("f"), "left")
      .crossJoin(broadcast(nR)).crossJoin(broadcast(nT))
      .select(col("doc_id"), col("tf"),
        expr(s"($DsirScale * coalesce(cf_t, 0L) * n_r) div (cf_r * n_t)")
          .as("r"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_feats"),
        expr("sum(tf * r) div sum(tf)").as("imp_score"))
      .withColumn("selected",
        (col("imp_score") >= DsirScale).cast("int"))
  }

  object ImportanceModelBigram {
    /** Train the frozen BIGRAM-feature model: same cf frames as
      * [[importanceWeightsBigram]], collected to bucket-keyed maps.
      * No vocab probe needed — the hash bounds the collect to
      * ≤ [[DsirBuckets]] rows by construction (the reason DSIR
      * hashes). The overflow guard is ImportanceModel's own. */
    def fromCorpus(docs: DataFrame): ImportanceModel = {
      val toks = docs.select(col("source"),
        split(lower(col("text")), " ").as("ts"))
      val tf = toks.filter(size(col("ts")) >= 2)
        .select(col("source"), explode(expr(
          """transform(sequence(0, size(ts) - 2),
               i -> concat(ts[i], ' ', ts[i + 1]))""")).as("b"))
        .select(col("source"), bigramFeatureCol(col("b")).as("f"))
        .groupBy("source", "f").agg(count(lit(1)).as("tf"))
      val cfR = tf.groupBy("f").agg(sum(col("tf")).as("cf"))
        .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
      val cfT = tf.filter(col("source") === DsirTarget)
        .groupBy("f").agg(sum(col("tf")).as("cf"))
        .collect().map(r => r.getLong(0).toString -> r.getLong(1)).toMap
      ImportanceModel(cfT, cfR, cfT.values.sum, cfR.values.sum)
    }
  }

  /** STREAMING bigram importance gate — [[importanceGate]]'s feature-
    * order twin over the hashed-bigram model: score an arriving doc's
    * bigram FEATURES against the broadcast frozen bucket maps, same
    * fixed-point arithmetic, stateless and replay-safe. A doc with
    * fewer than two tokens has no features → score 0 → drops under
    * any positive floor (the degenerate-input rule
    * [[importanceWeightsBigram]] documents). The kernel's feature ids
    * come from [[bigramFeatureOf]] — the md5 arithmetic is shared
    * with the batch expression, so stream == batch verdicts hold
    * bigram for bigram (CurationStreamSpec). */
  def importanceGateBigram(stream: DataFrame, model: ImportanceModel,
                           minScore: Long = DsirScale): DataFrame = {
    val s = stream.sparkSession
    val bc = Artifacts.cached(s, "gate-bc:impbi:" + modelDigest(model))(
      s.sparkContext.broadcast(model))
    val scoreOf = udf((text: String) => {
      if (text == null) 0L
      else {
        val m = bc.value
        val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
        if (toks.length < 2) 0L
        else {
          var acc = 0L
          var i = 0
          while (i < toks.length - 1) {
            val f = bigramFeatureOf(toks(i), toks(i + 1)).toString
            val ct = m.cfT.getOrElse(f, 0L)
            if (ct > 0L) acc += DsirScale * ct * m.nR / (m.cfR(f) * m.nT)
            i += 1
          }
          acc / (toks.length - 1)
        }
      }
    })
    stream.filter(scoreOf(col("text")) >= minScore)
  }

  val queries: Map[String, Q] = Map(
    // Served from the persisted [[docShingleStore]] (round-22): the
    // corpus md5-shingle fold runs once per corpus state at ingest;
    // the gate pays the slice filters + the broadcast join only.
    // Per-doc shingles ⟹ store-fed ≡ inline; oracle hashes unchanged.
    "q_decontaminate" -> ((s, dir) =>
      decontaminateFromShingles(docShingleStore(s, dir)).orderBy("doc_id")),

    // Per-doc marginal n-gram contribution — see [[novelty]]; served
    // from the SAME persisted shingle store (round-22 — the two
    // corpus folds the inline form paid leave the serving path; both
    // aggregates are duplicate-insensitive, so the distinct store rows
    // produce identical values).
    "q_text_novelty" -> ((s, dir) =>
      noveltyFromShingles(docShingleStore(s, dir))),

    // INCREMENTAL novelty — the ingest-time production mode, completing
    // the incremental family for the novelty signal: the firsts index
    // over the already-ingested prefix (doc_id < cut at the 80%
    // max-doc_id mark — novelty is ORDER-dependent, so the split is a
    // doc_id prefix, not the mod-slice the order-free twins use) is
    // built once and PERSISTED (localCheckpoint stands in for the
    // bucketed write), then the arriving batch is gated against it.
    // The prefix text is never rescanned. The oracle is the FULL
    // recompute restricted to the batch slice, so the hash match
    // proves incremental == full — the q_decontaminate_incremental
    // proof pattern. The 1-row max(doc_id) action is bounded.
    "q_text_novelty_incremental" -> ((s, dir) => {
      // Store-fed (round-22): the prefix firsts index AND the batch
      // shingle frame are doc_id-filtered views of the persisted
      // [[docShingleStore]] (per-doc shingles at the corpus width — the
      // cut sits at 80% of max doc_id, so the store width IS the
      // full-corpus width the key always used). The prefix text is
      // never rescanned and the batch is never re-folded; the cached
      // corpus stats pass replaces the per-key max(doc_id) job.
      val sh = docShingleStore(s, dir)
      val cut =
        graft.sources.Warehouse.corpusStats(s, dir, "documents")._2 * 4 / 5
      val index = sh.filter(col("doc_id") < cut)
        .select(col("sh_key")).distinct()
      noveltyBatchFromShingles(sh.filter(col("doc_id") >= cut), index)
    }),

    // VERBATIM cross-doc span detection (Lee et al.'s "Deduplicating
    // Training Data" substring-reuse concern, shingled): pairs of docs
    // sharing ≥ 1 derived-width word n-gram VERBATIM, with the count of
    // shared spans. Distinct from whole-doc near-dup (minhash/ngram):
    // this catches partial reuse — a quoted paragraph, a copied
    // footer — between otherwise-unrelated docs. Blocked by the shingle
    // key itself (rolling-hash, 8-byte); keys above VerbatimMaxDf docs
    // are excluded as boilerplate, so per-key pair work is bounded.
    "q_verbatim_spans" -> ((s, dir) =>
      // Count of DISTINCT shared shingle keys per pair, read off the
      // shared match artifact (the positions-aware frame counts a key
      // once per position pair; distinct keys = exactly what the old
      // distinct-shingle self-join counted — same values, one build).
      verbatimMatchesArtifact(s, dir)
        .groupBy("doc_a", "doc_b")
        .agg(countDistinct(col("sh_key")).as("n_shared"))
        .orderBy("doc_a", "doc_b")),

    // Verbatim span EXTENTS — the step beyond q_verbatim_spans toward
    // Lee et al.-style substring dedup: for each doc pair, the LONGEST
    // verbatim token run they share. Aligned shingle matches sit on a
    // diagonal (pos_a − pos_b constant); consecutive positions within
    // one diagonal form a run of length (shingle count + width − 1)
    // tokens — the classic gaps-and-islands grouping (pos −
    // row_number), windowed per (pair, diagonal) so no partition
    // exceeds a doc's shingle count. Matches flow only through
    // df-capped rare keys (runs cannot bridge a boilerplate shingle —
    // the documented VerbatimMaxDf trade); repeated phrases WITHIN a
    // doc create parallel diagonals, each measured independently, max
    // taken per pair.
    "q_verbatim_extents" -> ((s, dir) =>
      verbatimOffsetsArtifact(s, dir)
        .groupBy("doc_a", "doc_b")
        .agg(max(col("run_tokens")).as("max_run_tokens"))
        .orderBy("doc_a", "doc_b")),

    // Verbatim run OFFSETS — the removal-ready step past
    // q_verbatim_extents: every maximal shared run per pair with
    // (start_a, start_b, run_tokens), so spans can be CUT (Lee et al.
    // substring dedup), not just measured. Same deterministic window
    // arithmetic as the extents key ⟹ oracle-exact.
    "q_verbatim_offsets" -> ((s, dir) =>
      verbatimOffsetsArtifact(s, dir)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")),

    // Substring DEDUP — offsets CONSUMED: every shared verbatim run is
    // CUT from the higher-id doc (keep-first), tokens reassembled.
    // Whole-corpus output (untouched docs pass through with
    // n_removed=0) so the key doubles as the cleaned-corpus artifact a
    // pipeline would write. Deterministic window + interval arithmetic
    // ⟹ oracle-exact, text included.
    "q_verbatim_removal" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      verbatimRemoveFrom(docs.select(col("doc_id"), col("text")),
        verbatimOffsetsArtifact(s, dir),
        deriveShingleWidth(
          graft.sources.Warehouse.corpusStats(s, dir, "documents")._1))
        .orderBy("doc_id")
    }),

    // INCREMENTAL substring dedup — the ingest-time production mode
    // (completes the incremental family: exact, minhash, CC,
    // decontaminate, now verbatim): the corpus's positions-aware
    // shingle index is built once and PERSISTED (localCheckpoint
    // stands in for the write — the gate provably reuses the
    // materialized index), then the arriving batch (doc_id ≡ 0 mod 5,
    // the family's slice convention) is cleaned against it plus
    // itself. Policy: arriving data defers to existing data; within
    // the batch, keep-first. The oracle recomputes the same policy
    // from scratch, so the hash match (including the reassembled
    // text) proves incremental == from-scratch.
    "q_verbatim_removal_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val width = deriveShingleWidth(
        graft.sources.Warehouse.corpusStats(s, dir, "documents")._1)
      val batch = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
      // Store-fed (round-22): the settled slice's persisted index
      // ([[vbIncIndexArtifact]]) replaces the per-resolution inline
      // build; position rows (markers filtered) are exactly
      // verbatimIndex's frame over the slice.
      val index = vbIncIndexArtifact(s, dir)
        .filter(col("doc_id").isNotNull)
        .select(col("sh_key"), col("doc_id"), col("pos"))
      verbatimRemoveBatch(batch, index, width).orderBy("doc_id")
    }),

    // CHAR-offset cut list — the tokenizer-independent interface form
    // of the removal spans: (char_start, char_end) half-open character
    // intervals into the ORIGINAL text plus the span text itself, so a
    // consumer holding raw bytes cuts without re-tokenizing (and the
    // artifact self-verifies: span_text IS the substring at those
    // offsets). Deterministic length/concat arithmetic ⟹ oracle-exact.
    "q_verbatim_char_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      verbatimCharSpansFrom(docs.select(col("doc_id"), col("text")),
        verbatimOffsetsArtifact(s, dir))
        .orderBy("doc_id", "s", "e")
    }),

    // The BYTE-offset cut list — see [[verbatimByteSpans]]: the same
    // spans as octet intervals into the raw UTF-8, for consumers that
    // index bytes rather than chars.
    "q_verbatim_byte_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      verbatimByteSpansFrom(docs.select(col("doc_id"), col("text")),
        verbatimOffsetsArtifact(s, dir))
        .orderBy("doc_id", "s", "e")
    }),

    // Per-lang median/MAD outlier flags on doc length — the robust
    // data-quality screen (mean/stddev break under the heavy tails
    // that are exactly what you're screening for; median/MAD have a
    // 50% breakdown point). Two aggregate→broadcast rounds; the corpus
    // itself never shuffles. Exact percentile semantics match DuckDB's
    // quantile_cont (same interpolation; .0/.5 halves and 3×mad are
    // exactly representable, so the boundary verdict is deterministic
    // across engines).
    "q_quality_outliers" -> ((s, dir) =>
      qualityOutliers(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")))
        .orderBy("doc_id")),

    // The sketch-based production form of the screen (bounded
    // aggregation buffers at any group size) — no oracle by nature,
    // like the HLL key; PipelineSpec pins approx==exact verdicts on
    // planted heavy tails, OperatorSpec the rank-error bound.
    "q_quality_outliers_approx" -> ((s, dir) =>
      qualityOutliersApprox(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars")))
        .orderBy("doc_id")),

    // INCREMENTAL decontamination — the ingest-time production mode
    // (mirrors q_dedup_incremental / q_dedup_cluster_incremental): the
    // eval shingle index is built once and PERSISTED (localCheckpoint
    // stands in for the write — the gate provably reuses the
    // materialized index, it does not re-derive it), then the arriving
    // batch (doc_id ≡ 0 mod 5, the same slice the dedup twins ingest)
    // is gated against it. The non-batch corpus is never read. The
    // oracle is the FULL recompute restricted to the batch slice, so
    // the hash match proves incremental == full — same proof pattern
    // as the incremental CC key.
    "q_decontaminate_incremental" -> ((s, dir) => {
      // Store-fed (round-22): the persisted eval index and the batch's
      // shingles are both doc_id-filtered views of [[docShingleStore]]
      // (per-doc shingles — the filters commute with the fold), so the
      // gate touches NO document text at all; the localCheckpoint
      // stand-in retired like the minhash incremental's (round-17).
      val sh = docShingleStore(s, dir)
      val index = sh.filter(col("doc_id") % EvalMod === 0)
        .select(col("sh_key")).distinct()
      decontaminateBatchFromShingles(
        sh.filter(col("doc_id") % EvalMod =!= 0 && col("doc_id") % 5 === 0),
        index).orderBy("doc_id")
    }),

    // Fuzzy (MinHash) decontamination — see [[decontaminateFuzzy]];
    // both band sides served from the persisted `minhash_bands` store
    // (round-22): bands are per-doc, so the eval/corpus slices are
    // doc_id filters of the store and the corpus is never re-signed.
    "q_decontaminate_fuzzy" -> ((s, dir) => {
      val bands = Dedup.minhashBandStore(s, dir)
      decontaminateFuzzyFromBands(
        bands.filter(col("doc_id") % EvalMod === 0),
        bands.filter(col("doc_id") % EvalMod =!= 0),
        Tables.documents(s, dir))
    }),

    // The NON-VACUOUS twin (round-9 advice): the driver corpora hold
    // no fuzzy eval near-dups, so the key above oracle-compares
    // empty == empty — honest, but it never drives a row through the
    // banded-collision + verify path in DuckDB. This key UNIONS one
    // DERIVED near-dup into the corpus side — eval doc 0's text minus
    // its last token, under [[PlantId]] — then runs the SAME pipeline;
    // the oracle performs the identical construction, so the collision
    // and exact-Jaccard verify are exercised with nonzero rows at
    // every SF (the plant shares all but ~2 trigram shingles with doc
    // 0 ⟹ bands collide; word-set Jaccard ≥ (n−1)/n ≥ 0.8).
    "q_decontaminate_fuzzy_planted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") === 0)
        .select(lit(PlantId).as("doc_id"),
          expr("""concat_ws(' ',
                    slice(split(text, ' '), 1, size(split(text, ' ')) - 1))""")
            .as("text"))
      // Store-fed like the unplanted twin (round-22); only the ONE
      // planted doc is banded fresh (PlantId % EvalMod ≠ 0 puts it on
      // the corpus side, exactly where decontaminateFuzzy's filter
      // routed it).
      val bands = Dedup.minhashBandStore(s, dir)
      decontaminateFuzzyFromBands(
        bands.filter(col("doc_id") % EvalMod === 0),
        bands.filter(col("doc_id") % EvalMod =!= 0)
          .unionByName(Dedup.minhashBandIndex(planted)),
        docs.unionByName(planted))
    }),

    // Eval-side contamination report — see [[decontaminateReport]]:
    // per eval doc, corpus docs sharing shingles + distinct leaked
    // shingles. The planted full copy of eval doc 0 (the fuzzy_planted
    // pattern: PlantId % EvalMod ≠ 0 puts it on the corpus side) keeps
    // the report non-vacuous at every SF — eval doc 0 always reports
    // at least its own copy.
    "q_decontaminate_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") === 0)
        .select(lit(PlantId).as("doc_id"), col("text"))
      // Store-fed (round-22) with a WIDTH WITNESS: the key's declared
      // width derives from the UNION's count (corpus + 1 plant), the
      // store's from the corpus count — equal except exactly on a
      // deriveShingleWidth step, where the key falls back to the
      // inline fold rather than serve stale-width keys (the decline-
      // to-cold discipline, applied at the read side).
      val n = graft.sources.Warehouse.corpusStats(s, dir, "documents")._1
      val w = deriveShingleWidth(n + 1)
      val sh =
        if (w == deriveShingleWidth(n))
          docShingleStore(s, dir).unionByName(shingles(planted, w))
        else shingles(docs.unionByName(planted), w)
      decontaminateReportFromShingles(sh).orderBy("eval_id")
    }),

    // The composed curation funnel — see [[corpusFunnel]]. Both funnel
    // keys are views of ONE memoized FunnelFrames build
    // ([[funnelFramesArtifact]]): the stage frames are computed and
    // checkpointed once per (session, dir), not once per key.
    "q_corpus_funnel" -> ((s, dir) =>
      funnelCounts(s, funnelFramesArtifact(s, dir))),

    // Per-doc drop verdicts — see [[corpusFunnelReasons]]; same shared
    // FunnelFrames build as the count view.
    "q_corpus_funnel_reasons" -> ((s, dir) =>
      funnelReasons(Tables.documents(s, dir), funnelFramesArtifact(s, dir))),

    // The funnel grouped by SOURCE — the "which sources are dirty"
    // table a curation pass publishes (per (source, outcome) doc
    // counts): a source whose rows skew to 2_exact_dup is a mirror, to
    // 3_contaminated an eval leak, to 1_quality a scraper problem.
    // Third view of the SAME shared FunnelFrames build; the verdict
    // frame is id+outcome only, so the source join is a broadcast of
    // the id→source projection and the aggregate is a ≤
    // sources×outcomes row answer.
    "q_corpus_funnel_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      funnelReasons(docs, funnelFramesArtifact(s, dir))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy("source", "outcome").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "outcome")
    }),

    "q_corpus_mix" -> ((s, dir) => {
      import s.implicits._
      mixSample(Tables.documents(s, dir), MixRates.toDF("lang", "rate_pct"))
        .orderBy("lang")
    }),

    // Temperature-scaled source mixing — see [[mixTemperature]].
    "q_corpus_mix_temperature" -> ((s, dir) =>
      mixTemperature(Tables.documents(s, dir))),

    "q_pack_sequences" -> ((s, dir) =>
      packShards(Tables.documents(s, dir)).orderBy("doc_id")),

    // Shard FILL audit over the same packing — the packing-efficiency
    // table an engineer reads before touching PackBudget: per shard,
    // doc count, token sum, integer fill percent (the group's LAST
    // shard underfills by construction; a fill_pct far under 100
    // elsewhere means doc sizes straddle the budget badly). One more
    // grouped aggregate over the pack frame; output rows = shards
    // (corpus tokens div budget), not docs.
    "q_pack_sequences_stats" -> ((s, dir) =>
      packShards(Tables.documents(s, dir))
        .groupBy("lang", "pack_group", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("est_tokens")).as("shard_tokens"))
        .withColumn("fill_pct",
          expr(s"(shard_tokens * 100) div $PackBudget"))
        .orderBy("lang", "pack_group", "shard")),

    // The data-recipe table — see [[corpusRecipe]]: per-source target
    // tokens and epoch/repeat factors against a token budget, exact
    // integer ceil-div arithmetic.
    "q_corpus_recipe" -> ((s, dir) => {
      import s.implicits._
      corpusRecipe(Tables.documents(s, dir),
        MixRates.toDF("lang", "rate_pct")).orderBy("lang")
    }),

    // The recipe EXECUTED — see [[recipeExpand]]: per-doc copy counts
    // (full epochs + deterministic hash-order remainder fill) realizing
    // the q_corpus_recipe targets, via a bucketed two-pass prefix sum
    // so no window ever spans a whole language.
    "q_corpus_recipe_expand" -> ((s, dir) => {
      import s.implicits._
      recipeExpand(Tables.documents(s, dir),
        MixRates.toDF("lang", "rate_pct")).orderBy("doc_id")
    }),

    // Leakage-safe split: the GROUP-level twin of q_text_split's
    // doc-level assignment. Hashing the SOURCE puts every doc from one
    // origin in the same split — near-duplicates and templated text
    // cluster within a source, so a doc-level split leaks them across
    // the train/test boundary and inflates eval. Same md5-fold bucket
    // arithmetic, keyed by source; still a linear scan, still
    // retry-stable.
    "q_split_leakage_safe" -> ((s, dir) => {
      val bucket = expr(Tables.md5FoldBucketSql("source", 100))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), bucket.as("bucket"),
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),

    // Per-(lang, log2-bucket) doc-length histogram — the length
    // distribution every dataset card publishes and every
    // maxPartitionBytes / packing-budget decision reads. The bucket is
    // ⌊log2 n⌋ spelled as binary-digit count (length(bin(n)) − 1):
    // pure integer arithmetic both engines — float log2 flips buckets
    // at exact powers of two by one ulp. One partial-aggregating
    // count/sum shuffle over ≤ langs × 64 groups.
    "q_corpus_length_hist" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"),
          (length(bin(greatest(col("n_chars"), lit(1)))) - 1)
            .cast("int").as("bucket"),
          col("n_chars"))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang", "bucket")),

    // THE DATASET CARD (round 16): the per-language summary table a
    // corpus release ships — doc/token/char totals, integer mean
    // length, and the corpus share in basis points (fixed-point, no
    // float percentages). One partial-aggregating shuffle over ≤ langs
    // groups; the grand total folds to a 1-row broadcast.
    "q_corpus_dataset_card" -> ((s, dir) => {
      val total = Tables.documents(s, dir).agg(count(lit(1)).as("n_total"))
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars_total"),
          expr("sum(n_chars) div count(1)").as("mean_chars"))
        .crossJoin(broadcast(total))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("n_chars_total"), col("mean_chars"),
          expr("n_docs * 10000 div n_total").as("pct_docs_bp"))
        .orderBy("lang")
    }),

    // SOURCE CONCENTRATION (round 14): one-row Gini + top-share
    // diversity audit behind mixing decisions (a corpus at gini 0.8
    // is one crawl wearing twenty source labels) — see [[sourceGini]].
    "q_corpus_gini" -> ((s, dir) => sourceGini(Tables.documents(s, dir))),

    // DSIR-style importance weighting — see [[importanceWeights]]:
    // fixed-point target/raw frequency ratio per doc + the selection
    // verdict, integer-exact in both engines.
    "q_corpus_importance" -> ((s, dir) =>
      importanceWeights(Tables.documents(s, dir)).orderBy("doc_id")),

    // DSIR over HASHED BIGRAM features — see importanceWeightsBigram:
    // the Xie et al.-faithful feature order (md5 buckets, the hash IS
    // the vocab cap), same fixed-point mean-of-ratios verdict.
    "q_corpus_importance_bigram" -> ((s, dir) =>
      importanceWeightsBigram(Tables.documents(s, dir)).orderBy("doc_id")),

    // Stratified sampling: EXACTLY SampleK docs per lang (rate-based
    // mixing can't promise exact counts), chosen as the top-K salted-md5
    // keys per stratum — uniform, deterministic, reproducible in SQL.
    // Ranking goes through the map-side-combining TopK aggregator, so
    // only K rows per stratum per partition reach the shuffle — the
    // row_number() window spelling (the oracle) would shuffle the whole
    // corpus for a K-row answer.
    "q_sample_stratified" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("lang"),
        expr(Tables.md5FoldSql("concat('sample:', cast(doc_id as string))"))
          .as("sample_key"),
        col("doc_id"))
      graft.functions.TopK.perKey(keyed, "lang", "sample_key", "doc_id", SampleK)
        .orderBy("lang", "rk")
    }),

    // Duplicated-bigram fraction per doc — degenerate/boilerplate text
    // repeats itself; dup fraction > 1/10 flags it (integer
    // cross-multiply, (n−d)·10 > n: the corpus HAS docs exactly at the
    // boundary, so the verdict must not rest on double rounding). Pure
    // linear scan, no shuffle.
    "q_text_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", split(lower(col("text")), " "))
        .withColumn("bg", expr(
          """CASE WHEN size(toks) < 2 THEN array()
                  ELSE transform(sequence(0, size(toks) - 2),
                                 i -> concat_ws(' ', toks[i], toks[i+1]))
             END"""))
        .select(col("doc_id"),
          size(col("bg")).as("n_bigrams"),
          size(array_distinct(col("bg"))).as("n_distinct"))
        .withColumn("dup_ratio",
          when(col("n_bigrams") === 0, lit(0.0))
            .otherwise(round((col("n_bigrams") - col("n_distinct"))
              .cast("double") / col("n_bigrams").cast("double"), 4)))
        .withColumn("verdict",
          when((col("n_bigrams") - col("n_distinct")) * 10 > col("n_bigrams"),
            "repetitive").otherwise("ok"))
        .orderBy("doc_id")),
  )

  /** Shared SQL fragment: DISTINCT (doc_id, sh_key) — DuckDB twin of
    * `shingles` (1-based inclusive list slicing; range() is
    * end-exclusive). Same per-token md5 fold, same rotate-xor combine:
    * list_reduce seeds acc with the first element, which equals Spark's
    * aggregate from zero since step(0, h) = h. The width W is a COLUMN
    * cross-joined in from the `params` CTE ([[shingleParamsSql]]) —
    * DuckDB lambdas capture outer columns, so the derived knob reaches
    * inside list_transform. */
  private def shinglesSqlFrom(table: String) = s"""
        SELECT DISTINCT doc_id, sh_key FROM (
          SELECT doc_id,
                 unnest(CASE WHEN len(tf) < W THEN []
                             ELSE list_transform(range(1, len(tf) - W + 2),
                                    i -> list_reduce(tf[i:i+W-1],
                                           (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                        END) AS sh_key
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM $table), params)"""

  private val shinglesSql = shinglesSqlFrom("documents")

  /** The funnel's shared DuckDB CTE chain — every stage of the 6-stage
    * funnel as a CTE over the previous stage's survivors, ending at
    * `q6`, with each stage's DROP set (`flagged`, `fz`, `vempt`,
    * `dropped`) named so the reasons oracle can read membership.
    * Details mirroring the engine exactly:
    *   - exact dedup groups by TEXT where the engine groups by
    *     sha256(text) — identical row partitions, so min-id survivors
    *     agree without cross-engine digest comparison;
    *   - the fuzzy stage embeds the MinHash signature chain under an
    *     `mh` prefix (names would otherwise collide with the decontam
    *     `sh` CTE), candidates restricted to q3 survivors × the eval
    *     slice, verified on ROUNDED word-set Jaccard ≥ 0.8 (the
    *     verifyJaccard convention);
    *   - the verbatim stage re-runs the positions-aware span pipeline
    *     restricted to q4 survivors at the SAME full-corpus width W;
    *     `vempt` is the q4 docs with no uncovered token left;
    *   - the semantic stage restates the q_dedup_semantic chain over
    *     q5 survivors with the FULL-table centroid artifact (same
    *     first-K tie-break, same BIGINT-before-squaring rule). */
  /** The per-doc outcome CASE over the funnel CTE chain — ONE text
    * shared by the reasons and by-source oracles, so their verdicts
    * cannot drift (references `d` as the documents alias). */
  private lazy val funnelOutcomeCase = s"""
             CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM q1) THEN '1_quality'
                  WHEN d.doc_id NOT IN (SELECT doc_id FROM q2) THEN '2_exact_dup'
                  WHEN d.doc_id % $EvalMod = 0 THEN '3_eval_held_out'
                  WHEN d.doc_id IN (SELECT doc_id FROM flagged) THEN '3_contaminated'
                  WHEN d.doc_id IN (SELECT doc_id FROM fz) THEN '4_fuzzy_contaminated'
                  WHEN d.doc_id IN (SELECT doc_id FROM vempt) THEN '5_verbatim_emptied'
                  WHEN d.doc_id IN (SELECT vec_id FROM dropped) THEN '6_semantic_dup'
                  ELSE 'kept' END"""

  private lazy val funnelCtes = s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      q1 AS (
        SELECT doc_id, text FROM (
          SELECT doc_id, text, tk,
                 list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
          FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS tk
                FROM documents WHERE text IS NOT NULL))
        WHERE len(tk) >= $QualityMinTokens
          AND NOT ((len(bg) - len(list_distinct(bg))) * 10 > len(bg))),
      q2 AS (SELECT min(doc_id) AS doc_id FROM q1 GROUP BY text),
      ev AS (SELECT DISTINCT sh_key FROM sh WHERE doc_id % $EvalMod = 0),
      flagged AS (
        SELECT doc_id FROM q2
        WHERE doc_id % $EvalMod <> 0
          AND EXISTS (SELECT 1 FROM sh JOIN ev USING (sh_key)
                      WHERE sh.doc_id = q2.doc_id)),
      q3 AS (
        SELECT doc_id FROM q2
        WHERE doc_id % $EvalMod <> 0
          AND doc_id NOT IN (SELECT doc_id FROM flagged)),
      ${Dedup.minhashSigCtesFrom("documents", "mh")},
      fcand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mhsig a JOIN mhsig b
          ON (${Dedup.bandEqConds.map(c => s"($c)").mkString("\n              OR ")})
        WHERE a.doc_id IN (SELECT doc_id FROM q3)
          AND b.doc_id % $EvalMod = 0),
      fws AS (
        SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        FROM documents),
      fz AS (
        SELECT DISTINCT doc_a AS doc_id
        FROM fcand JOIN fws a ON fcand.doc_a = a.doc_id
                   JOIN fws b ON fcand.doc_b = b.doc_id
        WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
              (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) >= 0.8),
      q4 AS (SELECT doc_id FROM q3 WHERE doc_id NOT IN (SELECT doc_id FROM fz)),
      vsh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents
                WHERE doc_id IN (SELECT doc_id FROM q4)), params)),
      vrare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM vsh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      vm AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM vsh a JOIN vrare USING (sh_key)
             JOIN vsh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      vr AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM vm),
      vspans AS (
        SELECT doc_b AS doc_id, min(pos_a) - diag AS s,
               min(pos_a) - diag + count(*) + W - 1 - 1 AS e
        FROM vr, params GROUP BY doc_a, doc_b, diag, grp, W),
      vtoks AS (
        SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
              WHERE doc_id IN (SELECT doc_id FROM q4))),
      vkept AS (
        SELECT DISTINCT doc_id FROM vtoks
        WHERE NOT EXISTS (SELECT 1 FROM vspans r
                          WHERE r.doc_id = vtoks.doc_id
                            AND vtoks.pos >= r.s AND vtoks.pos <= r.e)),
      vempt AS (
        SELECT doc_id FROM q4
        WHERE doc_id NOT IN (SELECT doc_id FROM vkept)),
      q5 AS (
        SELECT doc_id FROM q4
        WHERE doc_id NOT IN (SELECT doc_id FROM vempt)),
      vecs AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      semp AS (
        SELECT (count(*) + ${Dedup.SemTargetCell} - 1) // ${Dedup.SemTargetCell} AS K
        FROM embeddings),
      cents AS (
        SELECT vec_id AS cid, v AS c FROM vecs
        WHERE vec_id < (SELECT K FROM semp)),
      sv AS (SELECT * FROM vecs WHERE vec_id IN (SELECT doc_id FROM q5)),
      assigned AS (
        SELECT vec_id, v, cell FROM (
          SELECT sv.vec_id, sv.v, c.cid AS cell,
                 row_number() OVER (PARTITION BY sv.vec_id
                   ORDER BY list_dot_product(sv.v, c.c) DESC, c.cid) AS arn
          FROM sv, cents c)
        WHERE arn = 1),
      dropped AS (
        SELECT DISTINCT b.vec_id FROM (
          SELECT b.vec_id,
                 CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot,
                 CAST(list_dot_product(a.v, a.v) AS BIGINT) AS aa,
                 CAST(list_dot_product(b.v, b.v) AS BIGINT) AS bb
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id < b.vec_id) b
        WHERE dot > 0
          AND ${Dedup.SemTauDen * Dedup.SemTauDen} * dot * dot >=
              ${Dedup.SemTauNum * Dedup.SemTauNum} * aa * bb),
      q6 AS (
        SELECT doc_id FROM q5
        WHERE doc_id NOT IN (SELECT vec_id FROM dropped))"""

  val oracle: Map[String, String] = Map(
    "q_decontaminate" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      ev AS (SELECT DISTINCT sh_key FROM sh WHERE doc_id % $EvalMod = 0),
      tr AS (SELECT doc_id, sh_key FROM sh WHERE doc_id % $EvalMod <> 0)
      SELECT tr.doc_id, count(*) AS n_shingles, count(ev.sh_key) AS n_hit
      FROM tr LEFT JOIN ev ON tr.sh_key = ev.sh_key
      GROUP BY tr.doc_id HAVING count(ev.sh_key) > 0
      ORDER BY doc_id""",

    // The same derived-width rolled shingle keys; first appearance by
    // min(doc_id); the novel share a nonnegative truncating div.
    "q_text_novelty" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      firsts AS (
        SELECT sh_key, min(doc_id) AS first_doc FROM sh GROUP BY sh_key)
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                  AS BIGINT) AS n_novel,
             CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                    * 10000 // count(*) AS BIGINT) AS novelty_bp
      FROM sh JOIN firsts f USING (sh_key)
      GROUP BY sh.doc_id ORDER BY doc_id""",

    // Full-recompute novelty restricted to the batch slice (doc_id >=
    // 80% of max) — hash-matching the frozen-index gate proves
    // incremental == full.
    "q_text_novelty_incremental" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents),
      firsts AS (
        SELECT sh_key, min(doc_id) AS first_doc FROM sh GROUP BY sh_key)
      SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                  AS BIGINT) AS n_novel,
             CAST(count(CASE WHEN f.first_doc = sh.doc_id THEN 1 END)
                    * 10000 // count(*) AS BIGINT) AS novelty_bp
      FROM sh JOIN firsts f USING (sh_key), cut
      WHERE sh.doc_id >= cut.c
      GROUP BY sh.doc_id ORDER BY doc_id""",

    // The eval-side flip of the q_decontaminate replay over the
    // plant-unioned universe (width re-derives from the unioned count,
    // as in the engine).
    "q_decontaminate_report" -> s"""
      WITH corpus_u AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT $PlantId AS doc_id, text FROM documents WHERE doc_id = 0),
      ${shingleParamsSql("corpus_u")},
      sh AS (${shinglesSqlFrom("corpus_u")}),
      ev AS (SELECT doc_id AS eval_id, sh_key FROM sh
             WHERE doc_id % $EvalMod = 0),
      tr AS (SELECT doc_id, sh_key FROM sh WHERE doc_id % $EvalMod <> 0)
      SELECT ev.eval_id,
             CAST(count(DISTINCT tr.doc_id) AS BIGINT) AS n_corpus_docs,
             CAST(count(DISTINCT tr.sh_key) AS BIGINT) AS n_shared_shingles
      FROM tr JOIN ev ON tr.sh_key = ev.sh_key
      GROUP BY ev.eval_id ORDER BY eval_id""",

    // FULL recompute (the exact q_decontaminate pipeline) restricted to
    // the batch slice: the hash match proves the engine's
    // index-once/gate-batch path computes the same answer as
    // recomputing everything — incremental == full.
    "q_decontaminate_incremental" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      ev AS (SELECT DISTINCT sh_key FROM sh WHERE doc_id % $EvalMod = 0),
      tr AS (SELECT doc_id, sh_key FROM sh WHERE doc_id % $EvalMod <> 0),
      full_recompute AS (
        SELECT tr.doc_id, count(*) AS n_shingles, count(ev.sh_key) AS n_hit
        FROM tr LEFT JOIN ev ON tr.sh_key = ev.sh_key
        GROUP BY tr.doc_id HAVING count(ev.sh_key) > 0)
      SELECT doc_id, n_shingles, n_hit FROM full_recompute
      WHERE doc_id % 5 = 0 ORDER BY doc_id""",

    // The funnel replay: each stage as a CTE over the previous stage's
    // survivors — see [[funnelCtes]]. Both funnel oracles share the
    // chain; this one reads the per-stage counts.
    "q_corpus_funnel" -> s"""
      $funnelCtes
      SELECT stage, n_kept FROM (
        SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_kept FROM documents
        UNION ALL SELECT '1_quality', CAST(count(*) AS BIGINT) FROM q1
        UNION ALL SELECT '2_exact', CAST(count(*) AS BIGINT) FROM q2
        UNION ALL SELECT '3_decontam', CAST(count(*) AS BIGINT) FROM q3
        UNION ALL SELECT '4_fuzzy', CAST(count(*) AS BIGINT) FROM q4
        UNION ALL SELECT '5_verbatim', CAST(count(*) AS BIGINT) FROM q5
        UNION ALL SELECT '6_semantic', CAST(count(*) AS BIGINT) FROM q6)
      ORDER BY stage""",

    // The per-doc verdict view over the SAME chain: the CASE mirrors
    // the engine's outcome precedence exactly (quality before exact
    // before holdout before exact-contam before fuzzy before verbatim
    // before semantic), and every membership set is a stage CTE the
    // count view also reads — so a green hash here proves counts and
    // verdicts reconcile by construction (round-9 verdict item 1).
    "q_corpus_funnel_reasons" -> s"""
      $funnelCtes
      SELECT d.doc_id, $funnelOutcomeCase AS outcome
      FROM documents d ORDER BY d.doc_id""",

    // The same per-doc verdict CASE, grouped by source — a green hash
    // proves the by-source table reconciles with BOTH sibling views
    // (shared CTE chain, shared CASE text).
    "q_corpus_funnel_by_source" -> s"""
      $funnelCtes
      SELECT source, outcome, CAST(count(*) AS BIGINT) AS n_docs
      FROM (
        SELECT d.source, $funnelOutcomeCase AS outcome
        FROM documents d)
      GROUP BY source, outcome ORDER BY source, outcome""",

    // Fuzzy decontamination replay: Dedup's signature CTE chain, band
    // collision as per-band 4-way signature equality (OR over bands)
    // between the corpus and eval slices, exact-Jaccard verify on the
    // candidates, grouped per corpus doc. Threshold on the ROUNDED
    // ratio — the engine's verifyJaccard filters the rounded column
    // (same convention as the q_dedup_minhash oracle).
    "q_decontaminate_fuzzy" -> s"""
      WITH ${Dedup.minhashSigCtes},
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON (${Dedup.bandEqConds.map(c => s"($c)").mkString("\n              OR ")})
        WHERE a.doc_id % $EvalMod <> 0 AND b.doc_id % $EvalMod = 0),
      ws AS (
        SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        FROM documents),
      verified AS (
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
                     (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jac
        FROM cand JOIN ws a ON cand.doc_a = a.doc_id
                  JOIN ws b ON cand.doc_b = b.doc_id
        WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
              (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) >= 0.8)
      SELECT doc_a AS doc_id, count(*) AS n_eval_matches,
             max(jac) AS max_jac
      FROM verified GROUP BY doc_a ORDER BY doc_id""",

    // The identical pipeline over documents ∪ the derived plant (doc
    // 0's text minus its last token, id PlantId): the same CTE chain
    // re-pointed at `base`, so the hash match exercises the banded
    // collision and the verify with nonzero rows.
    "q_decontaminate_fuzzy_planted" -> s"""
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT $PlantId AS doc_id, array_to_string(tk[1:len(tk)-1], ' ') AS text
        FROM (SELECT string_split(text, ' ') AS tk
              FROM documents WHERE doc_id = 0)),
      ${Dedup.minhashSigCtesFrom("base")},
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig a JOIN sig b
          ON (${Dedup.bandEqConds.map(c => s"($c)").mkString("\n              OR ")})
        WHERE a.doc_id % $EvalMod <> 0 AND b.doc_id % $EvalMod = 0),
      ws AS (
        SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        FROM base),
      verified AS (
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
                     (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) AS jac
        FROM cand JOIN ws a ON cand.doc_a = a.doc_id
                  JOIN ws b ON cand.doc_b = b.doc_id
        WHERE round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
              (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4) >= 0.8)
      SELECT doc_a AS doc_id, count(*) AS n_eval_matches,
             max(jac) AS max_jac
      FROM verified GROUP BY doc_a ORDER BY doc_id""",

    "q_verbatim_spans" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS ($shinglesSql),
      rare AS (
        SELECT sh_key FROM sh GROUP BY sh_key
        HAVING count(*) > 1 AND count(*) <= $VerbatimMaxDf),
      shd AS (SELECT doc_id, sh_key FROM sh JOIN rare USING (sh_key))
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM shd a JOIN shd b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      ORDER BY doc_a, doc_b""",

    "q_verbatim_extents" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      rare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM sh a JOIN rare USING (sh_key)
             JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM m),
      runs AS (
        SELECT doc_a, doc_b, count(*) + W - 1 AS run_tokens
        FROM r, params GROUP BY doc_a, doc_b, diag, grp, W)
      SELECT doc_a, doc_b, CAST(max(run_tokens) AS BIGINT) AS max_run_tokens
      FROM runs GROUP BY doc_a, doc_b
      ORDER BY doc_a, doc_b""",

    "q_verbatim_offsets" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      rare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM sh a JOIN rare USING (sh_key)
             JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM m)
      SELECT doc_a, doc_b, CAST(min(pos_a) AS INTEGER) AS start_a,
             CAST(min(pos_a) - diag AS INTEGER) AS start_b,
             CAST(count(*) + W - 1 AS BIGINT) AS run_tokens
      FROM r, params GROUP BY doc_a, doc_b, diag, grp, W
      ORDER BY doc_a, doc_b, start_a, start_b""",

    "q_verbatim_removal" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      rare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM sh a JOIN rare USING (sh_key)
             JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM m),
      spans AS (
        SELECT doc_b AS doc_id, min(pos_a) - diag AS s,
               min(pos_a) - diag + count(*) + W - 1 - 1 AS e
        FROM r, params GROUP BY doc_a, doc_b, diag, grp, W),
      toks AS (
        SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS t
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
      kept AS (
        SELECT doc_id, pos, t FROM toks
        WHERE NOT EXISTS (SELECT 1 FROM spans r
                          WHERE r.doc_id = toks.doc_id
                            AND toks.pos >= r.s AND toks.pos <= r.e)),
      agg AS (
        SELECT doc_id, count(*) AS n_kept,
               coalesce(string_agg(t, ' ' ORDER BY pos), '') AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(string_split(d.text, ' ')) - coalesce(agg.n_kept, 0) AS BIGINT)
               AS n_removed,
             coalesce(agg.text_clean, '') AS text_clean
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id""",

    // From-scratch transcription of the ingest policy (batch defers to
    // corpus; keep-first within batch) — the hash match proves the
    // engine's index-once/batch-linear path computes the same cleaned
    // batch, text included.
    "q_verbatim_removal_incremental" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      csh AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
      bsh AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
      cidx AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM csh GROUP BY sh_key)
        WHERE df <= $VerbatimMaxDf),
      mc AS (
        SELECT b.doc_id AS bdoc, c.doc_id AS odoc,
               b.pos AS bpos, b.pos - c.pos AS diag
        FROM bsh b JOIN cidx USING (sh_key)
             JOIN csh c ON b.sh_key = c.sh_key),
      brare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM bsh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      mb AS (
        SELECT x.doc_id AS bdoc, y.doc_id AS odoc,
               x.pos AS bpos, x.pos - y.pos AS diag
        FROM bsh x JOIN brare USING (sh_key)
             JOIN bsh y ON x.sh_key = y.sh_key AND y.doc_id < x.doc_id),
      m AS (SELECT * FROM mc UNION ALL SELECT * FROM mb),
      r AS (
        SELECT bdoc, odoc, diag, bpos,
               bpos - row_number() OVER (PARTITION BY bdoc, odoc, diag
                                         ORDER BY bpos) AS grp
        FROM m),
      spans AS (
        SELECT bdoc AS doc_id, min(bpos) AS s,
               min(bpos) + count(*) + W - 1 - 1 AS e
        FROM r, params GROUP BY bdoc, odoc, diag, grp, W),
      toks AS (
        SELECT doc_id, generate_subscripts(tk, 1) - 1 AS pos, unnest(tk) AS t
        FROM (SELECT doc_id, string_split(text, ' ') AS tk
              FROM documents WHERE doc_id % 5 = 0)),
      kept AS (
        SELECT doc_id, pos, t FROM toks
        WHERE NOT EXISTS (SELECT 1 FROM spans r
                          WHERE r.doc_id = toks.doc_id
                            AND toks.pos >= r.s AND toks.pos <= r.e)),
      agg AS (
        SELECT doc_id, count(*) AS n_kept,
               coalesce(string_agg(t, ' ' ORDER BY pos), '') AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(string_split(d.text, ' ')) - coalesce(agg.n_kept, 0) AS BIGINT)
               AS n_removed,
             coalesce(agg.text_clean, '') AS text_clean
      FROM (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0) d
           LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id""",

    // Same span pipeline as q_verbatim_removal down to `spans`, then
    // token→char offset arithmetic over the affected docs' own token
    // lists: char_start = len(join(first s tokens)) + 1 (0 at s = 0),
    // char_end = len(join(first e+1 tokens)) — identical length/concat
    // arithmetic to the engine, so offsets AND span text hash-match.
    "q_verbatim_char_spans" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      rare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM sh a JOIN rare USING (sh_key)
             JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM m),
      spans AS (
        SELECT DISTINCT doc_b AS doc_id,
               min(pos_a) - diag AS s,
               min(pos_a) - diag + count(*) + W - 1 - 1 AS e
        FROM r, params GROUP BY doc_a, doc_b, diag, grp, W),
      docs AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
      offs AS (
        SELECT sp.doc_id, sp.s, sp.e, d.text,
               CASE WHEN sp.s = 0 THEN 0
                    ELSE length(array_to_string(d.tk[1:sp.s], ' ')) + 1
               END AS char_start,
               length(array_to_string(d.tk[1:sp.e+1], ' ')) AS char_end
        FROM spans sp JOIN docs d USING (doc_id))
      SELECT doc_id, CAST(s AS INTEGER) AS s, CAST(e AS BIGINT) AS e,
             CAST(char_start AS BIGINT) AS char_start,
             CAST(char_end AS BIGINT) AS char_end,
             substr(text, char_start + 1, char_end - char_start) AS span_text
      FROM offs ORDER BY doc_id, s, e""",

    // The byte twin: identical span derivation; offsets re-expressed as
    // octets via strlen (DuckDB's byte length) of the char prefix —
    // Spark's octet_length(substring(...)) computes the same UTF-8
    // count.
    "q_verbatim_byte_spans" -> s"""
      WITH ${shingleParamsSql("documents")},
      sh AS (
        SELECT doc_id, generate_subscripts(ks, 1) - 1 AS pos, unnest(ks) AS sh_key
        FROM (
          SELECT doc_id,
                 CASE WHEN len(tf) < W THEN []
                      ELSE list_transform(range(1, len(tf) - W + 2),
                             i -> list_reduce(tf[i:i+W-1],
                                    (acc, h) -> xor((acc % $RotHi) * 2 + (acc // $RotHi), h)))
                 END AS ks
          FROM (SELECT doc_id,
                       list_transform(string_split(lower(text), ' '),
                                      t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS tf
                FROM documents), params)),
      rare AS (
        SELECT sh_key FROM (
          SELECT sh_key, count(DISTINCT doc_id) AS df FROM sh GROUP BY sh_key)
        WHERE df > 1 AND df <= $VerbatimMaxDf),
      m AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, a.pos - b.pos AS diag
        FROM sh a JOIN rare USING (sh_key)
             JOIN sh b ON a.sh_key = b.sh_key AND a.doc_id < b.doc_id),
      r AS (
        SELECT doc_a, doc_b, diag, pos_a,
               pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                          ORDER BY pos_a) AS grp
        FROM m),
      spans AS (
        SELECT DISTINCT doc_b AS doc_id,
               min(pos_a) - diag AS s,
               min(pos_a) - diag + count(*) + W - 1 - 1 AS e
        FROM r, params GROUP BY doc_a, doc_b, diag, grp, W),
      docs AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
      offs AS (
        SELECT sp.doc_id, sp.s, sp.e, d.text,
               CASE WHEN sp.s = 0 THEN 0
                    ELSE length(array_to_string(d.tk[1:sp.s], ' ')) + 1
               END AS char_start,
               length(array_to_string(d.tk[1:sp.e+1], ' ')) AS char_end
        FROM spans sp JOIN docs d USING (doc_id))
      SELECT doc_id, CAST(s AS INTEGER) AS s, CAST(e AS BIGINT) AS e,
             CAST(strlen(substr(text, 1, char_start)) AS BIGINT) AS byte_start,
             CAST(strlen(substr(text, 1, char_end)) AS BIGINT) AS byte_end,
             substr(text, char_start + 1, char_end - char_start) AS span_text
      FROM offs ORDER BY doc_id, s, e""",

    "q_quality_outliers" -> """
      WITH med AS (
        SELECT lang, quantile_cont(n_chars, 0.5) AS med
        FROM documents GROUP BY lang),
      w AS (
        SELECT d.doc_id, d.lang, d.n_chars, m.med
        FROM documents d JOIN med m ON d.lang = m.lang),
      mad AS (
        SELECT lang, quantile_cont(abs(n_chars - med), 0.5) AS mad
        FROM w GROUP BY lang)
      SELECT w.doc_id, w.lang, w.n_chars, w.med, mad.mad,
             CASE WHEN abs(w.n_chars - w.med) > mad.mad * 3.0
                  THEN 'outlier' ELSE 'ok' END AS verdict
      FROM w JOIN mad ON w.lang = mad.lang
      ORDER BY doc_id""",

    "q_corpus_mix" -> s"""
      WITH rates(lang, rate_pct) AS (VALUES ${MixRates.map(r => s"('${r._1}', ${r._2})").mkString(", ")}),
      t AS (
        SELECT d.lang, CAST(r.rate_pct AS BIGINT) AS rate_pct,
               ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                 < coalesce(r.rate_pct, 0) AS keep
        FROM documents d LEFT JOIN rates r ON d.lang = r.lang)
      SELECT lang, rate_pct, count(*) AS n_total,
             count(CASE WHEN keep THEN 1 END) AS n_sampled
      FROM t GROUP BY lang, rate_pct ORDER BY lang""",

    // Same ⌊√c⌋-weight arithmetic: IEEE sqrt is correctly rounded in
    // both engines, floor'd on both sides; every division truncating
    // on nonnegative operands (// == div).
    "q_corpus_mix_temperature" -> s"""
      WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(floor(sqrt(count(*))) AS BIGINT) AS w
        FROM documents GROUP BY source),
      t AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c)
      SELECT source, n_docs, w,
             CAST(w * 10000 // sw AS BIGINT) AS share_bp,
             CAST($TempMixBudget * w // sw AS BIGINT) AS target_docs,
             CAST((($TempMixBudget * w // sw) * 10000) // n_docs
                  AS BIGINT) AS repeat_bp
      FROM c CROSS JOIN t ORDER BY source""",

    // Same integer ceil-div recipe arithmetic over the same VALUES
    // rates table; ceil(a/b) spelled (a + b - 1) // b in both engines.
    "q_corpus_recipe" -> s"""
      WITH rates(lang, rate_pct) AS (VALUES ${MixRates.map(r => s"('${r._1}', ${r._2})").mkString(", ")}),
      avail AS (
        SELECT lang, CAST(sum((n_chars + 3) // 4) AS BIGINT) AS available_tokens
        FROM documents GROUP BY lang),
      rs AS (SELECT CAST(sum(rate_pct) AS BIGINT) AS rate_sum FROM rates),
      t AS (
        SELECT a.lang, a.available_tokens,
               CAST(($RecipeBudget * coalesce(r.rate_pct, 0)) // rate_sum AS BIGINT)
                 AS target_tokens
        FROM avail a LEFT JOIN rates r ON a.lang = r.lang, rs)
      SELECT lang, available_tokens, target_tokens,
             CAST(CASE WHEN target_tokens = 0 OR available_tokens = 0 THEN 0
                  ELSE (target_tokens + available_tokens - 1) // available_tokens
                  END AS BIGINT) AS repeat_factor,
             CASE WHEN target_tokens = 0 THEN 'excluded'
                  WHEN target_tokens > available_tokens THEN 'upsampled'
                  ELSE 'sampled' END AS status
      FROM t ORDER BY lang""",

    // The expansion twin: ONE global per-lang cumulative window in
    // md5-hash order — the engine reaches the same cum_before through
    // its bucketed two-pass prefix sum (buckets are hash RANGES, so
    // (bucket, hk, doc_id) order == (hk, doc_id) order); the hash match
    // IS the equivalence proof.
    "q_corpus_recipe_expand" -> s"""
      WITH rates(lang, rate_pct) AS (VALUES ${MixRates.map(r => s"('${r._1}', ${r._2})").mkString(", ")}),
      avail AS (
        SELECT lang, CAST(sum((n_chars + 3) // 4) AS BIGINT) AS available_tokens
        FROM documents GROUP BY lang),
      rs AS (SELECT CAST(sum(rate_pct) AS BIGINT) AS rate_sum FROM rates),
      recipe AS (
        SELECT a.lang, a.available_tokens,
               CAST(($RecipeBudget * coalesce(r.rate_pct, 0)) // rate_sum AS BIGINT)
                 AS target_tokens
        FROM avail a LEFT JOIN rates r ON a.lang = r.lang, rs),
      d AS (
        SELECT doc_id, lang, CAST((n_chars + 3) // 4 AS BIGINT) AS est_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % $ExpandHashMod AS hk
        FROM documents),
      c AS (
        SELECT doc_id, lang, est_tokens,
               CAST(coalesce(sum(est_tokens) OVER (
                 PARTITION BY lang ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
        FROM d)
      SELECT c.doc_id, c.lang, c.est_tokens,
             CAST(CASE WHEN r.available_tokens = 0 THEN 0
                  ELSE r.target_tokens // r.available_tokens +
                       CASE WHEN c.cum_before < r.target_tokens % r.available_tokens
                            THEN 1 ELSE 0 END
                  END AS BIGINT) AS n_copies
      FROM c JOIN recipe r ON c.lang = r.lang
      ORDER BY doc_id""",

    // Binary-digit bucket arithmetic in both engines; CASTs pin
    // HUGEINT sums.
    "q_corpus_length_hist" -> """
      SELECT lang,
             CAST(length(bin(greatest(n_chars, 1))) - 1 AS INTEGER)
               AS bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents
      GROUP BY lang, bucket ORDER BY lang, bucket""",

    // CASTs pin HUGEINT sums; basis points by nonnegative integer //.
    "q_corpus_dataset_card" -> """
      WITH t AS (SELECT count(*) AS n_total FROM documents),
      g AS (
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
               CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
        FROM documents GROUP BY lang)
      SELECT lang, n_docs, n_tokens, n_chars_total, mean_chars,
             CAST(n_docs * 10000 // n_total AS BIGINT) AS pct_docs_bp
      FROM g, t ORDER BY lang""",

    // The same pairwise-|Δ| Gini arithmetic over the per-source frame;
    // one trailing // per measure.
    "q_corpus_gini" -> """
      WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(n_chars) AS BIGINT) AS b
        FROM documents GROUP BY source),
      pairs AS (
        SELECT CAST(sum(abs(x.c - y.c)) AS BIGINT) AS dc,
               CAST(sum(abs(x.b - y.b)) AS BIGINT) AS db
        FROM per x, per y),
      tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sources,
               CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(sum(b) AS BIGINT) AS total_bytes,
               CAST(max(c) AS BIGINT) AS maxc,
               CAST(max(b) AS BIGINT) AS maxb
        FROM per)
      SELECT n_sources, n_docs, total_bytes,
             CAST(dc * 10000 // (2 * n_sources * n_docs) AS BIGINT)
               AS gini_docs_bp,
             CAST(db * 10000 // (2 * n_sources * total_bytes) AS BIGINT)
               AS gini_bytes_bp,
             CAST(maxc * 10000 // n_docs AS BIGINT) AS top_doc_share_bp,
             CAST(maxb * 10000 // total_bytes AS BIGINT)
               AS top_byte_share_bp
      FROM tot, pairs""",

    // Same tf → cf frames; nonnegative-integer // == div; CASTs pin
    // DuckDB's HUGEINT sums to BIGINT so the dtype compare holds.
    "q_corpus_importance" -> s"""
      WITH toks AS (
        SELECT doc_id, source,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      tf AS (
        SELECT doc_id, source, tok, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, source, tok),
      cfr AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf_r
              FROM tf GROUP BY tok),
      cft AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS cf_t
              FROM tf WHERE source = '$DsirTarget' GROUP BY tok),
      nr AS (SELECT CAST(sum(cf_r) AS BIGINT) AS n_r FROM cfr),
      nt AS (SELECT CAST(sum(cf_t) AS BIGINT) AS n_t FROM cft),
      scored AS (
        SELECT t.doc_id, t.tf,
               (${DsirScale}::BIGINT * coalesce(c2.cf_t, 0::BIGINT)
                  * (SELECT n_r FROM nr))
                 // (c1.cf_r * (SELECT n_t FROM nt)) AS r
        FROM tf t
        JOIN cfr c1 USING (tok)
        LEFT JOIN cft c2 USING (tok))
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_tokens,
             CAST(sum(tf * r) AS BIGINT) // CAST(sum(tf) AS BIGINT)
               AS imp_score,
             CAST(CASE WHEN CAST(sum(tf * r) AS BIGINT)
                            // CAST(sum(tf) AS BIGINT) >= $DsirScale
                       THEN 1 ELSE 0 END AS INTEGER) AS selected
      FROM scored GROUP BY doc_id ORDER BY doc_id""",

    // The bigram tier's twin: consecutive-pair features through the
    // SAME md5-prefix bucket arithmetic (md5 is bit-identical across
    // engines; the 8-hex prefix fits BIGINT in both), then the
    // unigram oracle's ratio fold in bucket space. len(ts) >= 2
    // replays the no-features domain rule.
    "q_corpus_importance_bigram" -> s"""
      WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS ts
        FROM documents),
      bg AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(unnest(list_transform(
                   range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]))),
                 1, 8))::BIGINT % $DsirBuckets AS f
        FROM toks WHERE len(ts) >= 2),
      tf AS (
        SELECT doc_id, source, f, CAST(count(*) AS BIGINT) AS tf
        FROM bg GROUP BY doc_id, source, f),
      cfr AS (SELECT f, CAST(sum(tf) AS BIGINT) AS cf_r
              FROM tf GROUP BY f),
      cft AS (SELECT f, CAST(sum(tf) AS BIGINT) AS cf_t
              FROM tf WHERE source = '$DsirTarget' GROUP BY f),
      nr AS (SELECT CAST(sum(cf_r) AS BIGINT) AS n_r FROM cfr),
      nt AS (SELECT CAST(sum(cf_t) AS BIGINT) AS n_t FROM cft),
      scored AS (
        SELECT t.doc_id, t.tf,
               (${DsirScale}::BIGINT * coalesce(c2.cf_t, 0::BIGINT)
                  * (SELECT n_r FROM nr))
                 // (c1.cf_r * (SELECT n_t FROM nt)) AS r
        FROM tf t
        JOIN cfr c1 USING (f)
        LEFT JOIN cft c2 USING (f))
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS n_feats,
             CAST(sum(tf * r) AS BIGINT) // CAST(sum(tf) AS BIGINT)
               AS imp_score,
             CAST(CASE WHEN CAST(sum(tf * r) AS BIGINT)
                            // CAST(sum(tf) AS BIGINT) >= $DsirScale
                       THEN 1 ELSE 0 END AS INTEGER) AS selected
      FROM scored GROUP BY doc_id ORDER BY doc_id""",

    "q_split_leakage_safe" -> """
      SELECT doc_id, source, bucket,
             CASE WHEN bucket < 90 THEN 'train'
                  WHEN bucket < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, source,
               ('0x' || substr(md5(source), 1, 15))::BIGINT % 100 AS bucket
        FROM documents)
      ORDER BY doc_id""",

    "q_sample_stratified" -> s"""
      WITH h AS (
        SELECT lang, doc_id,
               ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 AS sample_key
        FROM documents),
      r AS (
        SELECT lang, doc_id, sample_key,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY sample_key DESC, doc_id) AS rk
        FROM h)
      SELECT lang, doc_id, sample_key, CAST(rk AS INTEGER) AS rk
      FROM r WHERE rk <= $SampleK ORDER BY lang, rk""",

    "q_pack_sequences" -> s"""
      WITH t AS (
        SELECT doc_id, lang, doc_id // $PackGroup AS pack_group,
               (n_chars + 3) // 4 AS est_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, pack_group, est_tokens,
               CAST(sum(est_tokens) OVER (PARTITION BY lang, pack_group
                                          ORDER BY doc_id) AS BIGINT) AS cum
        FROM t)
      SELECT doc_id, lang, pack_group, est_tokens,
             (cum - est_tokens) // $PackBudget AS shard
      FROM c ORDER BY doc_id""",

    // The pack chain grouped per shard; same window, same floor
    // division.
    "q_pack_sequences_stats" -> s"""
      WITH t AS (
        SELECT doc_id, lang, doc_id // $PackGroup AS pack_group,
               (n_chars + 3) // 4 AS est_tokens
        FROM documents),
      c AS (
        SELECT doc_id, lang, pack_group, est_tokens,
               CAST(sum(est_tokens) OVER (PARTITION BY lang, pack_group
                                          ORDER BY doc_id) AS BIGINT) AS cum
        FROM t),
      sh AS (
        SELECT lang, pack_group, est_tokens,
               (cum - est_tokens) // $PackBudget AS shard
        FROM c)
      SELECT lang, pack_group, shard,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(est_tokens) AS BIGINT) AS shard_tokens,
             (CAST(sum(est_tokens) AS BIGINT) * 100) // $PackBudget
               AS fill_pct
      FROM sh GROUP BY lang, pack_group, shard
      ORDER BY lang, pack_group, shard""",

    "q_text_repetition" -> """
      WITH t AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 2 THEN []
                    ELSE list_transform(range(1, len(tk)),
                                        i -> tk[i] || ' ' || tk[i+1]) END AS bg
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents)),
      n AS (
        SELECT doc_id,
               CAST(len(bg) AS INTEGER) AS n_bigrams,
               CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct
        FROM t)
      SELECT doc_id, n_bigrams, n_distinct,
             CASE WHEN n_bigrams = 0 THEN 0.0
                  ELSE round(CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams, 4)
             END AS dup_ratio,
             CASE WHEN (n_bigrams - n_distinct) * 10 > n_bigrams
                  THEN 'repetitive' ELSE 'ok' END AS verdict
      FROM n ORDER BY doc_id""",
  )
}
