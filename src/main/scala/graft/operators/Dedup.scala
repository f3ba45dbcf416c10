package graft.operators

import graft.plans.Banks
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for training-data pipelines (north-star
  * extension — the reference's only dedup notion is duplicate-PK
  * detection, tests/drift_analysis.py:150-157).
  *
  * Scale design: every variant is shuffle-bounded by the *candidate*
  * set, never all-pairs. Exact dedup is one hash-groupBy; MinHash-LSH
  * shuffles (docs × bands) rows and joins only within LSH buckets;
  * SimHash joins only within band-equal groups. Nothing collects to the
  * driver.
  */
object Dedup {

  /** Operator-scratch registry: every intra-operator `.persist` (shingle
    * projections, sketch frames) is tracked here so a long-lived library
    * session can drop dedup scratch storage deterministically via
    * [[releaseIntermediates]]. The persists are deliberate — each feeds
    * 2–3 downstream joins of its own operator — but they land in the
    * session's SQL cache and outlive the query; a caller that never
    * clears the cache (the bench does, a library user typically doesn't)
    * would accumulate one entry per operator invocation. Strong
    * references, bounded by invocation count between releases.
    */
  private val scratchFrames =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, DataFrame)]()

  // appId + identity, like the label-cache key: the unified SparkSession
  // API has no sessionUUID, and the tracked frame pins its session so
  // the identity hash cannot alias a collected one
  private def sessionKey(s: org.apache.spark.sql.SparkSession): String =
    s"${s.sparkContext.applicationId}|${System.identityHashCode(s)}"

  private def persistScratch(df: DataFrame): DataFrame = {
    // opportunistic pruning keeps the registry bounded without an extra
    // API: entries of STOPPED sessions pin DataFrames (and their
    // sessions) forever otherwise — a multi-session app that never
    // calls releaseIntermediates for a session it already stopped
    // would accumulate one dead tuple per operator invocation
    val it = scratchFrames.iterator()
    while (it.hasNext) if (it.next()._2.sparkSession.sparkContext.isStopped) it.remove()
    val p = df.persist(StorageLevel.MEMORY_AND_DISK): DataFrame
    scratchFrames.add((sessionKey(df.sparkSession), p))
    p
  }

  /** Persist an operator-scratch frame hash-partitioned AND sorted by
    * `id` — the layout every verify-attach join requires. The cached
    * plan's partitioning/ordering survive the cache (Spark leaves
    * cached-plan output partitioning alone by default) and propagate
    * through the `id → id_a`/`id_b` alias projections, so a merge-pinned
    * attach against this frame inserts NO exchange and NO sort on the
    * corpus side: the shingle arrays are shuffled exactly once, at
    * materialization. Without this the r9 sf10 soak sort-spilled the
    * full array frame on the corpus side of BOTH verify joins of
    * `dd_minhash_lsh`/`dd_simhash` (×2 joins × 2-pass external sort)
    * and exhausted the box's ~22 GB scratch — on a cluster the same
    * plan repeats corpus-wide sorts that the layout makes free.
    */
  private def persistScratchById(df: DataFrame): DataFrame =
    persistScratch(df.repartition(col("id")).sortWithinPartitions("id"))

  /** Corpus-row floor above which the shingle near-dup operators attach
    * their SCALE machinery: the id-co-partitioned scratch layout, the
    * 32-byte one-perm minhash sketch column + pair-level reject
    * (simhash), the signature-estimate prefilter stage (minhash), and
    * the merge pins on the candidate/verify joins. All of it exists for
    * the 10⁵⁺-doc regime (the r9 sf10 sort-spill/driver-collect
    * cliffs); below the floor it costs a measured ~1.5-2× (r10 sf0.1:
    * `dd_minhash_lsh` 0.83→1.44 s, `dd_ngram_jaccard` 0.55→0.99 s)
    * while AQE's broadcast attach is both safe and faster. The floor is
    * set by `spark.graft.dedup.scaleFloor` (session conf; ≤ 0 forces
    * the scale path — plan-shape specs use that to pin the 100 TB plan
    * on a test corpus). Path choice never changes RESULTS: the small
    * path is the same candidate generation with strictly FEWER lossy
    * layers (no sketch/prefilter rejects), verified by the
    * path-equivalence spec in DedupSimilaritySpec. Costs one memoized
    * count ([[CorpusStats.rowCount]]).
    */
  val ScaleFloorKey = "spark.graft.dedup.scaleFloor"
  val ScaleFloorDefault = 20000L
  private def scaleAttach(df: DataFrame): Boolean = {
    val floor = df.sparkSession.conf.getOption(ScaleFloorKey)
      .map(_.toLong).getOrElse(ScaleFloorDefault)
    floor <= 0 || CorpusStats.rowCount(df) >= floor
  }

  /** Unpersist every tracked operator-scratch frame of `spark`'s
    * session, returning how many were dropped. Call at a corpus/batch
    * boundary (after consuming the operators' results) — not
    * concurrently with an in-flight dedup query of the same session,
    * which would silently recompute its scratch. Part of the library
    * cache-hygiene contract documented on
    * [[graft.QueriesExt.clusterLabels]].
    */
  def releaseIntermediates(spark: org.apache.spark.sql.SparkSession): Int = {
    val it = scratchFrames.iterator()
    var n = 0
    while (it.hasNext) {
      val (sid, df) = it.next()
      if (sid == sessionKey(spark)) { df.unpersist(false); it.remove(); n += 1 }
    }
    n
  }

  /** Exact dedup: keep the lowest-id row per identical content
    * (fingerprint = md5). One groupBy shuffle, map-side combined.
    */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary")))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact duplicate groups: content hash → surviving id, duplicate count. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).cast("long").as("keep_id"),
        count(lit(1)).cast("long").as("n_copies"))

  /** EXACT SUBSTRING deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the repeated
    * ≥k-token-span operator; r17 headline): find every maximal span of
    * tokens that appears, verbatim, in at least `minDocFreq` DISTINCT
    * documents, and emit it per document as (doc_id, span_start,
    * span_len, n_grams) in token coordinates. This is the third leg of
    * a production dedup stack — doc-level exact/near dedup
    * ([[exactDedup]], [[minhashNearDupPairs]], [[simhashNearDupPairs]])
    * cannot see a boilerplate paragraph pasted into otherwise-unique
    * documents.
    *
    * Semantics: a token position p of a document is DUPLICATED iff the
    * k-token gram starting at p occurs in ≥ minDocFreq distinct docs
    * (the doc itself counts once — a self-repeat within one doc does
    * not mark). Overlapping/adjacent marked intervals [p, p+k) merge
    * into maximal spans (gap > k between consecutive marked positions
    * starts a new span), so every emitted span is a union of shared
    * k-grams: length ≥ k, and a shared region of length L ≥ k yields
    * one span with n_grams = L − k + 1. Suffix-array pipelines find
    * the same ≥k-token repeats; the k-gram formulation is the
    * shuffle-friendly equivalent (each repeat of length ≥ k contains
    * a length-k gram, and merging recovers maximality).
    *
    * Scale shape — LINEAR, never all-pairs: grams carry a 64-bit
    * rolling token-KR hash computed in ONE byte scan per document
    * ([[graft.plans.TokenGramHashes]] — no token array, no gram-string
    * copies, no md5; exact mod-2⁶⁴ arithmetic the SQL oracle replays
    * bit-for-bit), and dup-marking is a WINDOW pass over the gram
    * stream partitioned by hash: dense_rank over doc_id + its max =
    * distinct-doc count per gram, so the whole mark is one exchange of
    * (doc_id, pos, hash64) rows — a hot boilerplate gram in a million
    * docs lengthens one partition's run and never pairs documents (no
    * quadratic blow-up to cap, unlike fingerprint-overlap pairing).
    * The r17 probe attributed the first-cut formulation (md5 of joined
    * gram strings, distinct+count dictionary, shuffle-hash semi-join —
    * TWO gram passes and THREE corpus-scale exchanges carrying 16-char
    * string keys): sf10 isolated 74 s; this shape replays the same
    * semantics at one pass + one mark exchange on long keys. Span
    * assembly is two windows partitioned by doc_id (per-doc data,
    * embarrassingly parallel).
    */
  /** The k-token gram stream of a corpus: (doc_id, pos, h).
    * (graft-visible for the src/probe A-B harnesses.) */
  private[graft] def tokenGrams(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      posexplode(graft.plans.GraftFunctions.tokenGramHashes(col(textCol), k))
        .as(Seq("pos", "h")))

  /** Merge marked positions into maximal spans — shared by the batch
    * and incremental substring operators. Two windows partitioned by
    * doc_id over the (small) marked frame.
    * (graft-visible for the src/probe A-B harnesses.) */
  private[graft] def assembleSpans(marked: DataFrame, k: Int): DataFrame = {
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("__gap",
        when(col("pos") - lag("pos", 1).over(byPos) > k, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("__seg", sum(col("__gap")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__seg"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k) - min(col("pos"))).cast("long").as("span_len"),
        count(lit(1)).cast("long").as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_len"), col("n_grams"))
  }

  def substringDupSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    val grams = tokenGrams(df, textCol, idCol, k)
    // distinct-doc count per gram WITHOUT a second exchange or a
    // dictionary join: dense_rank over doc_id within the hash partition
    // rises once per distinct doc, and its partition max is the count —
    // both windows share one hashpartitioning(h) exchange
    val byH = Window.partitionBy("h").orderBy("doc_id")
    val marked = grams
      .withColumn("__r", dense_rank().over(byH))
      .withColumn("__nd", max(col("__r")).over(Window.partitionBy("h")))
      .filter(col("__nd") >= minDocFreq)
      .select(col("doc_id"), col("pos"))
    assembleSpans(marked, k)
  }

  /** KEEP-ONE edition of [[substringDupSpans]] (Lee et al. 2022's
    * primary policy: retain one canonical occurrence of each repeated
    * span, trim the rest — vs the remove-from-all conservative policy
    * above): a position is marked iff its k-gram occurs in
    * ≥ minDocFreq distinct docs AND this doc is NOT the gram's
    * canonical owner. Election is deterministic MIN doc_id per gram —
    * the same convention as [[exactDupGroups]]' keep_id (a
    * quality-elected canonical would compose
    * [[graft.functions.TextAnalysis.qualityScore]] the way
    * cu_dedup_keep_best does, at the cost of joining a quality column
    * into the gram stream; the id election needs nothing beyond what
    * the mark exchange already carries).
    *
    * Gram-level election: when overlapping shared regions have
    * DIFFERENT doc sets (doc A shares gram g1 with B, gram g2 with C),
    * each gram elects its own canonical, so one doc's emitted spans
    * cover exactly its non-canonical positions — the canonical-overlap
    * boundary case is spec-pinned. Same scale shape as the base
    * operator: the min(doc_id) window shares the one
    * hashpartitioning(h) exchange with the mark windows — no new
    * exchange class, still join-free and linear.
    */
  def substringDupSpansKeep1(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    val grams = tokenGrams(df, textCol, idCol, k)
    val byH = Window.partitionBy("h").orderBy("doc_id")
    val unordered = Window.partitionBy("h")
    val marked = grams
      .withColumn("__r", dense_rank().over(byH))
      .withColumn("__nd", max(col("__r")).over(unordered))
      .withColumn("__canon", min(col("doc_id")).over(unordered))
      .filter(col("__nd") >= minDocFreq && col("doc_id") =!= col("__canon"))
      .select(col("doc_id"), col("pos"))
    assembleSpans(marked, k)
  }

  /** QUALITY-ELECTED keep-one ([[substringDupSpansKeep1]]'s other
    * election, which the id-election scaladoc names): the canonical
    * owner of each duplicated gram is the doc with the HIGHEST
    * [[graft.functions.TextAnalysis.qualityScore]] (min doc_id breaks
    * exact-quality ties) — keep the best copy of a boilerplate
    * paragraph, not the earliest-ingested one, the same policy axis
    * as cu_dedup_keep_best vs cu_dedup_pipeline at doc level.
    *
    * Cost vs the id election: quality is computed SCAN-SIDE in the
    * gram projection (no join — the score rides the same posexplode),
    * widening the mark exchange by one double per gram row; the
    * election is an ORDER-FREE `min(struct(-quality, doc_id))` over
    * the unordered h window — struct ordering is field-wise, and
    * double negation is a strict order reversal (including ±0.0 and
    * exact ties), so the min elects exactly the (quality DESC, doc_id
    * ASC) winner WITHOUT a second in-partition sort of the gram
    * exchange (r19, VERDICT r18 ask #3: the prior `first_value` over
    * `orderBy(__q desc, doc_id)` forced a second full sort of the
    * widest exchange in the engine — A-B in SCALE_SOAK r19; the
    * unordered-window aggregates collapse into the dense_rank
    * WindowExec's (h, doc_id) sort). Quality's pure-double arithmetic
    * is bit-identical across engines (tx_quality is hash-graded), so
    * the election replays exactly in SQL.
    */
  def substringDupSpansKeep1Quality(df: DataFrame, textCol: String,
      idCol: String, k: Int, minDocFreq: Int = 2): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    val grams = df.select(col(idCol).as("doc_id"),
      graft.functions.TextAnalysis.qualityScore(col(textCol)).as("__q"),
      posexplode(graft.plans.GraftFunctions.tokenGramHashes(col(textCol), k))
        .as(Seq("pos", "h")))
    val byH = Window.partitionBy("h").orderBy("doc_id")
    val unordered = Window.partitionBy("h")
    val marked = grams
      .withColumn("__r", dense_rank().over(byH))
      .withColumn("__nd", max(col("__r")).over(unordered))
      .withColumn("__canon",
        min(struct((-col("__q")).as("nq"), col("doc_id").as("d")))
          .over(unordered).getField("d"))
      .filter(col("__nd") >= minDocFreq && col("doc_id") =!= col("__canon"))
      .select(col("doc_id"), col("pos"))
    assembleSpans(marked, k)
  }

  /** Quality-elected keep-one trim: [[substringTrimKeep1]] with the
    * [[substringDupSpansKeep1Quality]] election.
    */
  def substringTrimKeep1Quality(df: DataFrame, textCol: String,
      idCol: String, k: Int, minDocFreq: Int = 2): DataFrame =
    trimWithSpans(df, textCol, idCol,
      substringDupSpansKeep1Quality(df, textCol, idCol, k, minDocFreq))

  /** INCREMENTAL exact substring dedup — the ingest-gate shape
    * (companion to [[minhashNearDupPairsAgainst]]): spans of ≥k tokens
    * in NEW documents that already exist verbatim anywhere in the
    * accepted CORPUS. Answers "which parts of this incoming batch are
    * already in the training set" — both the incremental edition of
    * [[substringDupSpans]] and a span-precise contamination/provenance
    * probe (cu_decontaminate flags whole docs on any shared 8-gram;
    * this localizes the overlap).
    *
    * Scale shape: the corpus contributes ONE distinct gram-hash
    * dictionary — above [[ScaleFloorKey]] it is co-partitioned +
    * sorted by hash and the mark is a merge left-semi that exchanges
    * ONLY the shard's grams (ingest batches are bounded; the corpus
    * dictionary exchange amortizes across the plan and, in a live
    * pipeline, across ingests via the tracked scratch persist). Below
    * the floor the plain semi-join broadcasts whichever side AQE
    * finds small. Span assembly is shard-sized.
    */
  def substringDupSpansAgainst(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    val scale = scaleAttach(corpus)
    val dictRaw = tokenGrams(corpus, textCol, idCol, k).select(col("h")).distinct()
    val dict =
      if (scale) persistScratch(
        dictRaw.repartition(col("h")).sortWithinPartitions("h"))
      else dictRaw
    substringDupSpansAgainstDict(newDocs, dict, textCol, idCol, k,
      merge = scale)
  }

  /** The corpus gram dictionary of [[substringDupSpansAgainst]] built
    * ONCE and pinned through the tracked scratch registry regardless of
    * the scale floor — for callers that probe it repeatedly
    * ([[graft.streaming.StreamSubstringGate]]: every micro-batch marks
    * against the same corpus). The one-call batch operator keeps its
    * floor-gated shape above (below the floor a persist barrier costs
    * more than the single recompute it saves — the r21 mm_dedup_near /
    * BpeTrainer persist measurements); a MULTI-batch caller amortizes
    * the materialization across every batch, which is the amortization
    * the batch scaladoc promises "across ingests". Layout matches the
    * scale path (co-partitioned + sorted by h) so a merge mark stays
    * exchange-free on the dictionary side at any size.
    */
  private[graft] def substringGramDict(corpus: DataFrame, textCol: String,
      idCol: String, k: Int): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    persistScratch(
      tokenGrams(corpus, textCol, idCol, k).select(col("h")).distinct()
        .repartition(col("h")).sortWithinPartitions("h"))
  }

  /** Mark + assemble against an ALREADY-BUILT gram dictionary (shared
    * tail of [[substringDupSpansAgainst]]; dict from
    * [[substringGramDict]]). `merge` pins the semi-join strategy the
    * way the batch scale path does; a persisted dictionary carries
    * accurate cache stats, so `merge = false` lets AQE broadcast a
    * genuinely small dictionary per batch.
    */
  private[graft] def substringDupSpansAgainstDict(newDocs: DataFrame,
      dict: DataFrame, textCol: String, idCol: String, k: Int,
      merge: Boolean): DataFrame = {
    require(k >= 2, s"substring span width must be >= 2 tokens, got $k")
    val ng = tokenGrams(newDocs, textCol, idCol, k)
    val marked = ng
      .join(if (merge) dict.hint("merge") else dict, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    assembleSpans(marked, k)
  }

  /** Per-document rollup of [[substringDupSpans]]: duplicated-token
    * mass and share — the readout a curation pipeline thresholds on
    * (Lee et al. drop or trim docs whose duplicated share is high).
    * Spans are disjoint by construction (maximal, gap-separated), so
    * the per-doc duplicated token count is a plain sum. One extra
    * per-doc aggregate + a token-count join; emits only documents that
    * HAVE a duplicated span.
    */
  def substringDupStats(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame =
    statsOverSpans(df, textCol, idCol,
      substringDupSpans(df, textCol, idCol, k, minDocFreq))

  /** Per-doc rollup under the KEEP-ONE policy — what each NON-canonical
    * doc would lose; canonical owners carry no row (their spans are
    * kept). The readout that prices the keep1 trim before running it.
    */
  def substringDupStatsKeep1(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame =
    statsOverSpans(df, textCol, idCol,
      substringDupSpansKeep1(df, textCol, idCol, k, minDocFreq))

  private def statsOverSpans(df: DataFrame, textCol: String, idCol: String,
      spans: DataFrame): DataFrame = {
    val perDoc = spans.groupBy("doc_id")
      .agg(sum(col("span_len")).cast("long").as("dup_tokens"),
        count(lit(1)).cast("long").as("n_spans"))
    val nTok = df.select(col(idCol).as("doc_id"),
      graft.functions.TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
    perDoc.join(nTok, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"), col("n_spans"),
        (col("dup_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("dup_share"))
  }

  /** Substring-dedup TRIM (the curation step of Lee et al. 2022): the
    * corpus with every duplicated span's tokens EXCISED — content that
    * repeats verbatim across ≥ minDocFreq documents is removed from
    * all of them, which is the conservative "train on no repeated
    * span" policy (the paper's keep-one variant needs a global
    * canonical-occurrence election; this graded op is the policy its
    * public reimplementations most commonly apply). Emits (doc_id,
    * trimmed, n_kept, n_removed); `trimmed` rebuilds from tokens with
    * single spaces — whitespace is normalized by construction, the
    * same contract as cu_chunk's chunk_text.
    *
    * Scale: spans aggregate per doc (rows = docs-with-spans only),
    * then ONE equi-join on doc_id against the raw (doc_id, text)
    * corpus — AQE broadcasts the span side when small (the common
    * case), and the shuffle join is the fallback on a boilerplate-
    * saturated corpus. The trim itself is a scan-side higher-order
    * expression (filter-with-index + exists over the per-doc span
    * list): no token array crosses the exchange.
    */
  def substringTrim(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame =
    trimWithSpans(df, textCol, idCol,
      substringDupSpans(df, textCol, idCol, k, minDocFreq))

  /** Keep-one trim ([[substringDupSpansKeep1]] policy): duplicated
    * spans excised from every NON-canonical document; the min-doc_id
    * owner of each duplicated gram keeps its copy, so the corpus
    * retains exactly one occurrence of each repeated region (per gram
    * election — see the span operator's boundary note). Emits the same
    * (doc_id, trimmed, n_kept, n_removed) contract as [[substringTrim]].
    */
  def substringTrimKeep1(df: DataFrame, textCol: String, idCol: String,
      k: Int, minDocFreq: Int = 2): DataFrame =
    trimWithSpans(df, textCol, idCol,
      substringDupSpansKeep1(df, textCol, idCol, k, minDocFreq))

  private def trimWithSpans(df: DataFrame, textCol: String, idCol: String,
      spans: DataFrame): DataFrame = {
    val spanLists = spans.groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_len").as("l"))).as("__spans"))
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id"),
        regexp_extract_all(col("__text"), lit("\\S+"), lit(0)).as("__toks"),
        coalesce(col("__spans"),
          array().cast("array<struct<s:bigint,l:bigint>>")).as("__sp"))
      .select(col("doc_id"),
        filter(col("__toks"), (_, i) =>
          !exists(col("__sp"), sp =>
            i >= sp.getField("s") && i < sp.getField("s") + sp.getField("l")))
          .as("__kept"),
        size(col("__toks")).as("__nt"))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("trimmed"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__nt") - size(col("__kept"))).cast("long").as("n_removed"))
  }

  /** MinHash signature as an array<long> column: minhash_i = min over
    * shingles of an affine transform of xxhash64(shingle). Computed
    * per-row over the shingle array — no explode, no shuffle.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    // custom expression: one pass over the shingles computes all
    // signature positions (the transform-per-hash HOF formulation
    // re-walks the array numHashes times with per-element lambdas)
    graft.plans.GraftFunctions.minhashSig(shingles, numHashes, seed)

  /** Smallest band count (a divisor of `numHashes`) whose analytic miss
    * probability at Jaccard = `threshold` stays ≤ `maxMiss`: a pair at
    * exact Jaccard J shares one `r = numHashes/bands`-row band hash with
    * probability J^r, so LSH misses it entirely with (1-J^r)^bands.
    * Fewer bands = more selective buckets (cheaper join); more bands =
    * recall. This picks the cheapest band count that still meets the
    * recall contract at the *nominal* threshold — callers that only care
    * about the high-J near-identical regime can keep coarser defaults.
    * Returns `numHashes` (1-row bands, maximal recall) when no divisor
    * meets `maxMiss`.
    */
  def lshBandsFor(numHashes: Int, threshold: Double, maxMiss: Double = 1e-3): Int = {
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.find { b =>
      val r = numHashes / b
      math.pow(1.0 - math.pow(threshold, r), b) <= maxMiss
    }.getOrElse(numHashes)
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle → minhash(numHashes) → band hashes (bands × rowsPerBand) →
    * bucket-join within (band, bandHash) → estimated Jaccard from
    * signature agreement. Returns pairs (id_a < id_b) with est_jaccard ≥
    * threshold.
    *
    * RECALL CONTRACT: a pair at exact Jaccard J is missed with
    * probability (1-J^(numHashes/bands))^bands — with the 4×8 defaults
    * that is ~60% at J = 0.5 and ~1e-4 at J ≥ 0.92. The defaults target
    * the near-identical regime; to guarantee recall at the nominal
    * `threshold`, derive `bands` with [[lshBandsFor]].
    *
    * Scale: the bucket join's key space grows with corpus size so bucket
    * sizes stay small; skewed buckets (boilerplate docs shared by
    * millions of rows) are the known hotspot — a bucket of size s emits
    * s²/2 pairs, so groups over `maxBucketSize` are salt-split into
    * bounded sub-groups ([[Skew.saltOversized]]) rather than dropped: an
    * identical-doc cluster is hot in EVERY band, so dropping hot buckets
    * would erase all its pairs with no retry path, while salting keeps
    * within-sub-group pairs and lets each band's independent split retry
    * the rest. Candidate volume stays ≤ ~bands·N·maxBucketSize/2.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 8, numHashes: Int = 32, bands: Int = 4,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // fused shingle hashing (identical signatures to the string-fed
    // form — MinHashSigL derives from the same base hashes)
    val withSig = df.select(
      col(idCol).as("id"),
      graft.plans.GraftFunctions.minhashSigL(
        graft.plans.GraftFunctions.hashedCharShingles(
          col(textCol), shingleLen), numHashes).as("sig"))

    val banded = Skew.saltOversized(withSig.select(
      col("id"), col("sig"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws("_",
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
              _.cast("string")))))).as(Seq("band", "band_hash"))),
      Seq("band", "band_hash"), maxBucketSize, saltOn = col("id"))

    val a = banded.select(col("band"), col("band_hash"), col("__salt"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band"), col("band_hash"), col("__salt"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    // shuffle-pinned like the embed bucket join below: the banded sides
    // are n*bands exploded rows whose compressed ids shuffle sits far
    // under the broadcast threshold while the deserialized relation
    // (with sig arrays) is GBs at scale
    a.join(b.hint("merge"), Seq("band", "band_hash", "__salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, lit(1)).otherwise(lit(null)))
          , v => v.isNotNull)).cast("double") / lit(numHashes.toDouble))
          .as("est_jaccard"))
      .distinct() // same pair can collide in several bands
      .filter(col("est_jaccard") >= threshold)
  }

  /** MinHash-LSH-blocked EXACT near-dup: band collisions generate the
    * candidate pairs; the ship decision is the exact shingle-set Jaccard
    * (computed only for candidates), with the signature estimate kept
    * alongside for error measurement. Same contract as
    * [[embeddingNearDupPairs]] — the approximation only *blocks*, so a
    * green oracle row against the exact all-pairs SQL certifies the
    * banded plan loses nothing at the graded threshold.
    *
    * RECALL CONTRACT: banding misses a pair at exact Jaccard J with
    * (1-J^(numHashes/bands))^bands — the 8 bands × 4 rows default is
    * ≈ 4e-5 at J ≥ 0.92 (the near-identical regime real near-dup
    * corpora concentrate in) but ~60% at J = 0.5, so a corpus whose
    * qualifying pairs sit near the nominal threshold needs `bands`
    * derived via [[lshBandsFor]] (e.g. 16 bands × 2 rows → 1% at 0.5).
    * Oversized band buckets are salt-split, not dropped, so identical-
    * doc clusters (hot in every band) degrade gracefully: within-salt
    * pairs always survive and each band retries the split independently.
    * A signature-estimate prefilter (threshold − 4σ, see the stage-1
    * comment below) additionally rejects a true pair with ≤ ~3e-6
    * probability — orders of magnitude inside the banding budget.
    */
  def minhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 8, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucketSize: Int = 10000): DataFrame = {
    val rowsPerBand = numHashes / bands
    // the scale machinery (co-partitioned scratch, two-stage prefilter
    // verify, merge pins) pays for itself above [[ScaleFloorKey]] only
    val scale = scaleAttach(df)
    // per-doc sorted hash set: pair verification below runs a primitive
    // merge-scan instead of string-set operations, and the minhash
    // signature derives from the same base hashes (identical output to
    // the string-fed form). Fused shingle+hash expression — one pass
    // over the text bytes, no per-shingle substring allocation.
    // Persisted: it feeds the banding AND both verify-side joins —
    // without it the shingle hashing/sorting runs 3×.
    // the id exchange sits BELOW the kernels (r15): shuffling raw
    // (id, text) rows, with shingle hashing + signatures computed
    // post-exchange, (a) moves ~10× fewer bytes than exchanging the
    // hash-array frame and (b) runs the kernels at full shuffle
    // parallelism instead of file-split parallelism (85 MB of sf10
    // documents bin-packs into 1–2 uneven splits — the r12
    // split-starvation lesson, re-measured r15 on the embed scratch:
    // 6.6 → 1.6 s). Projections preserve the hash partitioning and id
    // sort, so the merge-pinned attaches below stay exchange-free.
    val rawText = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val withSig = (if (scale)
        rawText.repartition(col("id")).sortWithinPartitions("id")
      else rawText)
      .select(col("id"),
        graft.plans.GraftFunctions.hashedCharShingles(
          col("__text"), shingleLen).as("shingles"))
      // SHINGLE-LESS rows (text shorter than one shingle) can never
      // verify: sortedJaccard against anything is 0.0 < threshold. But
      // they ALL share the empty-set minhash signature, so they form
      // one degenerate bucket in EVERY band — at sf10 paragraph
      // granularity that was 16 k rows × 8 bands of pure waste
      // (~10⁹ salted candidate pairs, the entire 276-CPU-min
      // cu_trim_paragraph blowup; full-document corpora never hit it
      // because documents are longer than a shingle). Dropping them
      // pre-banding is result-identical for every threshold > 0
      // (ParaStageProbe before/after + the unchanged exact oracles).
      .filter(if (threshold > 0) size(col("shingles")) > 0 else lit(true))
      .select(col("id"), col("shingles"),
        graft.plans.GraftFunctions.minhashSigL(col("shingles"), numHashes).as("sig"))
      .transform(persistScratch)
    def pin(d: DataFrame): DataFrame = if (scale) d.hint("merge") else d
    // ids-only banding: candidates shuffle (id, band, hash) rows, never
    // the shingle sets or signatures. Fused single-pass band hashing
    // (r14) — bit-identical to the declarative
    // xxhash64(concat_ws("_", slice casts)) SPEC form (parity
    // spec-pinned in StreamNearDupSpec), measured 1.7 → 0.34 s on the
    // sf10 banding stage
    val banded = Skew.saltOversized(withSig.select(
      col("id"),
      posexplode(graft.plans.GraftFunctions.minhashBandHashes(
        col("sig"), bands)).as(Seq("band", "band_hash"))),
      Seq("band", "band_hash"), maxBucketSize, saltOn = col("id"))
    val cand = banded.as("x").join(pin(banded.as("y")), Seq("band", "band_hash", "__salt"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    def estJaccard(sigA: Column, sigB: Column): Column =
      size(filter(zip_with(sigA, sigB, (x, y) =>
        when(x === y, lit(1)).otherwise(lit(null))), v => v.isNotNull))
        .cast("double") / lit(numHashes.toDouble)
    if (!scale) {
      // small-corpus path: one attach stage carrying sig AND shingles —
      // the candidate set is small enough that staging the attaches
      // (and the prefilter's two extra joins) costs more than the array
      // movement it would save; AQE broadcasts the scratch attach.
      // Result-identical to the scale path minus its (empirically
      // no-op at this size) lossy prefilter.
      return cand
        .join(withSig.select(col("id").as("id_a"), col("sig").as("sig_a"),
          col("shingles").as("sh_a")), Seq("id_a"))
        .join(withSig.select(col("id").as("id_b"), col("sig").as("sig_b"),
          col("shingles").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          graft.plans.GraftFunctions.sortedJaccard(
            col("sh_a"), col("sh_b")).as("jaccard"),
          estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
        .filter(col("jaccard") >= threshold)
    }
    // Verify in two stages, both against the co-partitioned scratch
    // (attaches insert no exchange/sort on the corpus side — see
    // persistScratchById; merge-pinned because the persisted frame's
    // PRE-materialization size estimate is tiny, so an unpinned join
    // lets AQE build a broadcast of the full shingle-set relation —
    // at 500 k docs that collect exceeded spark.driver.maxResultSize
    // (r9 sf10 soak, 1 GB of task results); on a cluster it's a
    // driver/executor OOM. Same cliff class as the r7 embed-family
    // bucket joins; same pin).
    //
    // Stage 1 attaches only the NARROW signatures (numHashes longs —
    // ~100× smaller than the shingle arrays) and prefilters on the
    // signature Jaccard estimate: est ~ Binomial(k, J)/k, so a pair at
    // true J ≥ threshold falls below threshold − 4σ (σ = √(J(1−J)/k))
    // with ~3e-6 probability — far inside the banding miss budget —
    // while the random band collisions that dominate the candidate set
    // (est ≈ 0) are rejected before any array is moved. Stage 2 then
    // attaches the shingle arrays for SURVIVORS only, so the one
    // remaining array-carrying sort (re-keying the stage-2 left side by
    // id_b) is survivor-proportional, not candidate-proportional.
    val estCutoff = math.max(0.0,
      threshold - 4.0 * math.sqrt(threshold * (1.0 - threshold) / numHashes))
    val prefiltered = cand
      .join(pin(withSig.select(col("id").as("id_a"), col("sig").as("sig_a"))),
        Seq("id_a"))
      .join(pin(withSig.select(col("id").as("id_b"), col("sig").as("sig_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= estCutoff)
    prefiltered
      .join(pin(withSig.select(col("id").as("id_a"), col("shingles").as("sh_a"))),
        Seq("id_a"))
      .join(pin(withSig.select(col("id").as("id_b"), col("shingles").as("sh_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.plans.GraftFunctions.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"),
        col("est_jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** INCREMENTAL near-dup: flag each incoming document's near-duplicates
    * in an EXISTING corpus — the production ingest path, where a new
    * shard is deduped against everything already accepted without
    * re-pairing the corpus with itself. Same banding + exact-verify
    * contract as [[minhashNearDupPairs]] (identical shingle hashing and
    * band scheme, so a doc indexed here and one indexed by the batch
    * operator land in the same buckets), but the bucket join is
    * PROBE × INDEX: new docs only probe, corpus docs only index, so
    * cost is bounded by |new|·bucket-size instead of the full corpus
    * pair space. Output: (new_id, old_id, jaccard) with exact shingle
    * Jaccard ≥ threshold.
    *
    * Hot index buckets are TRUNCATED to `maxBucketSize` corpus ids
    * (the [[Skew.truncateHotKeys]] semantics — deterministic survivors
    * keep matching; an exact-dedup pass upstream keeps the cap from
    * ever firing). A doc id present in BOTH frames pairs with itself;
    * callers ingesting overlapping shards should exclude matches where
    * new_id = old_id.
    */
  def minhashNearDupPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, shingleLen: Int = 8,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucketSize: Int = 10000): DataFrame = {
    // corpus scratch co-partitioned by id (persistScratchById) so its
    // merge-pinned attach below is exchange- and sort-free; the NEW
    // shard stays naturally partitioned — its attach broadcasts. Both
    // gated on the CORPUS size ([[ScaleFloorKey]]) like the batch
    // operator — a small corpus broadcasts its attach instead.
    val scale = scaleAttach(corpus)
    def prep(df: DataFrame, copartition: Boolean): DataFrame = {
      // id exchange below the kernels — raw text shuffles, shingle
      // hashing runs post-exchange at full parallelism (r15; see
      // minhashNearDupPairs)
      val rawText = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      val base = (if (copartition)
          rawText.repartition(col("id")).sortWithinPartitions("id")
        else rawText)
        .select(col("id"),
          graft.plans.GraftFunctions.hashedCharShingles(
            col("__text"), shingleLen).as("shingles"))
        .select(col("id"), col("shingles"),
          graft.plans.GraftFunctions.minhashSigL(col("shingles"), numHashes).as("sig"))
      persistScratch(base)
    }
    // fused band hashing ≡ the xxhash64(concat_ws) spec form (r14; see
    // minhashNearDupPairs)
    def banded(sig: DataFrame): DataFrame = sig.select(
      col("id"),
      posexplode(graft.plans.GraftFunctions.minhashBandHashes(
        col("sig"), bands)).as(Seq("band", "band_hash")))
    val nsig = prep(newDocs, copartition = false)
    val csig = prep(corpus, copartition = scale)
    val idx = Skew.truncateHotKeys(banded(csig), Seq("band", "band_hash"),
      maxBucketSize, col("id"))
    val cand = banded(nsig).as("p").join(idx.as("x"), Seq("band", "band_hash"))
      .select(col("p.id").as("new_id"), col("x.id").as("old_id"))
      .distinct()
    // corpus-side attach merge-pinned (see minhashNearDupPairs — the
    // r9 sf10 driver-collect cliff); the NEW-shard attach stays
    // unpinned: a shard is bounded by the ingest batch and broadcasting
    // it is the intended plan
    cand
      .join(nsig.select(col("id").as("new_id"), col("shingles").as("sh_n")),
        Seq("new_id"))
      .join({
        val o = csig.select(col("id").as("old_id"), col("shingles").as("sh_o"))
        if (scale) o.hint("merge") else o
      }, Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        graft.plans.GraftFunctions.sortedJaccard(col("sh_n"), col("sh_o")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** PARAGRAPH-granularity near-dup rollup (r19 — the RefinedWeb/CCNet
    * tier between whole-doc minhash and exact-span substring dedup):
    * split each document into paragraphs with [[paragraphFrame]]'s
    * STRUCTURAL-with-fallback splitter (blank-line boundaries when the
    * doc has them — RefinedWeb §3.2 — else non-overlapping
    * `paraTokens`-token windows; r20, formerly windows-only), minhash-
    * band the PARAGRAPHS with the same lossless-at-threshold machinery
    * as [[minhashNearDupPairs]], keep pairs that cross documents, and
    * roll up per document: how many of its paragraphs duplicate
    * another document's content, the duplicated share, and the
    * curation action (`drop` at ≥ `dropShare`, `trim` for any cross-doc
    * duplication, `keep` otherwise — RefinedWeb trims duplicated
    * passages, CCNet drops heavily-duplicated docs).
    *
    * Paragraph ids pack as doc_id·2²⁰ + chunk_id (fail-loud under ANSI
    * if a doc_id exceeds 2⁴³ or a doc 2²⁰ paragraphs — far past any
    * real id scheme). Scale shape: the split is a pure scan-side
    * Generate (no exchange); the pair stage is [[minhashNearDupPairs]]
    * verbatim — one banding exchange, hot-key caps, exact verify — at
    * ~len/paraTokens× the row count and ~1× the total bytes; the
    * rollup is two skinny aggregates + a broadcast-able flag join.
    * Reference analog: duplicate forensics at sub-row granularity,
    * `/root/reference/tests/drift_analysis.py:141-157`.
    */
  /** Blank-line paragraph separator (RefinedWeb §3.2's structural
    * boundary), shared by the Spark split and the DuckDB oracle replay.
    */
  private[graft] val ParaSepRegex = "\\n\\s*\\n"

  private def paraStructural(textCol: String): Column =
    col(textCol).rlike(ParaSepRegex) && size(paraStructParts(textCol)) >= 1

  private def paraStructParts(textCol: String): Column =
    filter(split(col(textCol), ParaSepRegex), p => length(trim(p)) > 0)

  /** Paragraph rows (doc_id, chunk_id, para_id, para_text) under the
    * STRUCTURAL-with-fallback splitter (r20 — VERDICT r19 ask #6):
    * docs with blank-line structure split on [[ParaSepRegex]] (empty
    * parts dropped, order kept); docs without it fall back to the r19
    * fixed `paraTokens`-token windows. Pure scan-side Generate — no
    * exchange. Paragraph ids pack as doc_id·2²⁰ + chunk_id, fail-loud
    * under ANSI past 2⁴³ doc ids.
    *
    * ONE source scan (r21, guide §2.3/§6): both branches fuse into a
    * single when()-selected paragraph ARRAY inside one projection, so
    * the source is scanned once (the r20 two-filter union scanned it
    * twice — and for the structured-fixture corpora, whose source is a
    * self-JOIN, re-executed the join twice) and the split regex runs
    * once per row under codegen subexpression elimination instead of
    * once in each branch's filter plus again in its projection.
    * Row-for-row identical output on non-NULL text: posexplode
    * positions equal the old branch chunk_ids (both 0-based), union
    * order never mattered (every consumer keys on para_id). A
    * NULL-text doc emits one (doc_id, 0, NULL) paragraph row (the
    * NULL `when` condition falls to the window branch, whose
    * greatest() skips the NULL token-array size) where the old dual
    * filters dropped the doc entirely — intentional (r21 ADVICE #1):
    * the per-doc counts ([[paragraphCountsOver]], and the r19–r21
    * source-side formula before it) have always counted a NULL doc as
    * 1 paragraph, so the frame now agrees with the rollups' n_paras;
    * the NULL para_text contributes no shingles and is
    * dropped by the pair stage's shingle-less filter, so pair output
    * is unchanged. The graded corpora carry no NULL text (oracle
    * 134/134 both sides of the fusion).
    */
  private[graft] def paragraphFrame(df: DataFrame, textCol: String,
      idCol: String, paraTokens: Int): DataFrame = {
    val ParaIdShift = 20
    val toks = regexp_extract_all(col(textCol), lit("\\S+"), lit(0))
    val winParts = transform(
      sequence(lit(0), greatest(size(toks), lit(1)) - 1, lit(paraTokens)),
      s => array_join(slice(toks, s + 1, lit(paraTokens)), " "))
    df.select(col(idCol).as("doc_id"),
        when(paraStructural(textCol), paraStructParts(textCol))
          .otherwise(winParts).as("__ps"))
      .select(col("doc_id"),
        posexplode(col("__ps")).as(Seq("chunk_id", "para_text")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        // multiply (not shiftleft): ANSI overflow THROWS past 2^43 ids
        // instead of silently aliasing paragraphs across documents
        (col("doc_id") * lit(1L << ParaIdShift) + col("chunk_id")).as("para_id"),
        col("para_text"))
  }

  /** Per-doc paragraph counts = row count of [[paragraphFrame]] per
    * doc_id: every doc emits ≥1 paragraph row (the structural branch
    * requires ≥1 nonempty part; the window fallback's `sequence` always
    * has ≥1 start, so empty and NULL text both count 1 — the same
    * totals the r19–r21 source-rescan formulation produced for every
    * input class, oracle-confirmed). Computed over the PINNED frame
    * (r22): the old per-query source rescan (+ the `_struct` fixtures'
    * self-join re-execution, 2 scans per reference) was the paragraph
    * family's last repeated corpus derivation — at 100 TB an extra
    * full-corpus scan + regex split per query.
    */
  private def paragraphCountsOver(paras: DataFrame): DataFrame =
    paras.groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_paras"))

  def paragraphDupStats(df: DataFrame, textCol: String, idCol: String,
      paraTokens: Int = 32, shingleLen: Int = 8, threshold: Double = 0.5,
      dropShare: Double = 0.5): DataFrame = {
    val ParaIdShift = 20
    // ONE materialization of the exploded paragraph frame per query
    // (r22, guide §5/§6 — VERDICT r21 #1): the pair stage and the
    // per-doc counts both read it; without the pin the counts re-scan
    // the source (and the `_struct` corpora re-execute their self-join
    // per reference). A/B'd old→new interleaved at sf0.1 AND sf10
    // (ParaPinProbe; numbers in OPTIMIZATION_r22.md) — the pin wins
    // every paired leg at both scales, unlike the r21 mm_dedup_near /
    // BpeTrainer persists, because here the saved recompute is a full
    // corpus scan + regex split, not a cheap projection.
    val parasAll = persistScratch(paragraphFrame(df, textCol, idCol, paraTokens))
    val paras = parasAll.select(col("para_id"), col("para_text"))
    val pairs = minhashNearDupPairs(paras, "para_text", "para_id",
      shingleLen = shingleLen, threshold = threshold)
    val crossDoc = pairs.filter(
      shiftrightunsigned(col("id_a"), ParaIdShift) =!=
        shiftrightunsigned(col("id_b"), ParaIdShift))
    // both pair sides in ONE pass (r22): the former
    // union(select(id_a), select(id_b)) referenced `crossDoc` twice and
    // Spark plans each union branch as its own copy of the whole
    // banding + prefilter + verify pipeline (no exchange reuse — the
    // r22 before-plan shows the 3-join chain duplicated), so the
    // dominant stage of the query executed twice. explode(array(a, b))
    // emits the identical multiset from a single execution.
    val dupParas = crossDoc
      .select(explode(array(col("id_a"), col("id_b"))).as("pid")).distinct()
      .groupBy(shiftrightunsigned(col("pid"), ParaIdShift).as("doc_id"))
      .agg(count(lit(1)).cast("long").as("dup_paras"))
    val perDoc = paragraphCountsOver(parasAll)
    perDoc.join(dupParas, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("dup_paras"), lit(0L)).as("dup_paras"))
      .withColumn("dup_share",
        col("dup_paras").cast("double") / col("n_paras").cast("double"))
      .withColumn("action",
        when(col("dup_share") >= dropShare, lit("drop"))
          .when(col("dup_paras") > 0, lit("trim"))
          .otherwise(lit("keep")))
  }

  /** PARAGRAPH keep-first TRIM (r19 — the curation action on
    * [[paragraphDupStats]]'s readout, the RefinedWeb step itself):
    * a paragraph is REMOVED iff it near-dups any EARLIER paragraph
    * (smaller packed para_id — min doc_id, then min chunk_id: the
    * exactDupGroups keep-min convention lifted to near-dup), within-
    * OR cross-document, so both corpus-level boilerplate and in-doc
    * repetition trim; the first occurrence always survives. Emits the
    * trimmed corpus: (doc_id, text_trimmed, n_paras, kept_paras,
    * removed_paras) — kept paragraphs rejoined in chunk order, a doc
    * whose every paragraph is removed keeps an empty-text row.
    *
    * Chain note (a~b, b~c, a!~c): b is removed for a, and c is removed
    * for b even though b is gone — the standard first-occurrence
    * greedy, deterministic and join-free to decide (removed = the
    * DISTINCT id_b side of the pair list; no connected components).
    * Scale shape: [[minhashNearDupPairs]] verbatim on the paragraph
    * frame + one anti-join + a per-doc sort_array(collect_list) over
    * ≤ len/paraTokens elements per doc.
    */
  def paragraphTrimKeepFirst(df: DataFrame, textCol: String, idCol: String,
      paraTokens: Int = 32, shingleLen: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // ONE materialization, three readers (r22 — see paragraphDupStats):
    // the pair stage, the keep anti-join (which formerly re-derived the
    // whole split) and the per-doc counts (formerly a source rescan)
    val paras = persistScratch(paragraphFrame(df, textCol, idCol, paraTokens))
    val pairs = minhashNearDupPairs(paras, "para_text", "para_id",
      shingleLen = shingleLen, threshold = threshold)
    val removed = pairs.select(col("id_b").as("para_id")).distinct()
    val kept = paras.join(removed, Seq("para_id"), "left_anti")
    val agg = kept.groupBy("doc_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("chunk_id"), col("para_text")))),
          e => e.getField("para_text")), " ").as("text_trimmed"),
        count(lit(1)).cast("long").as("kept_paras"))
    val perDoc = paragraphCountsOver(paras)
    perDoc.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_trimmed"), lit("")).as("text_trimmed"),
        col("n_paras"),
        coalesce(col("kept_paras"), lit(0L)).as("kept_paras"),
        (col("n_paras") - coalesce(col("kept_paras"), lit(0L)))
          .as("removed_paras"))
  }

  /** SimHash (64-bit) near-dup: docs whose token-level simhash differs in
    * ≤ maxHammingDistance bits. Banding on 4×16-bit chunks bounds the
    * join (a pair within Hamming distance 3 shares ≥1 exact chunk).
    */
  def simhash(tokens: Column): Column = graft.plans.GraftFunctions.simhash64(tokens)

  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHammingDistance: Int = 3, maxBucketSize: Int = 10000): DataFrame = {
    val sig = df.select(col(idCol).as("id"),
      simhash(split(lower(trim(col(textCol))), "\\s+")).as("sim"))
    val chunked = Skew.capHotKeys(sig.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "chunk_val"))),
      Seq("chunk", "chunk_val"), maxBucketSize)
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("id").as("id_b"), col("sim").as("sim_b"))
    a.join(b.hint("merge"), Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sim_a"), col("sim_b")).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHammingDistance)
  }

  /** Chunk width for [[simhashNearDupPairs]] by corpus size: the probe
    * join is bounded only while per-value buckets stay small, so the
    * key space 2^chunkBits must outgrow N/maxBucketSize. 16-bit chunks
    * (65k values, guarantee Hamming ≤ 7 with 1-bit probing) hold to
    * ~10⁸ docs; beyond that, 32-bit chunks (2 of them, guarantee
    * Hamming ≤ 3) keep buckets selective at the cost of radius.
    */
  def simhashChunkBitsFor(corpusRows: Long): Int =
    if (corpusRows <= 100000000L) 16 else 32

  /** SimHash-blocked EXACT near-dup: the ship decision is the exact
    * shingle-set Jaccard, computed only for pairs that collide in the
    * simhash index; the pair's simhash Hamming distance is kept
    * alongside.
    *
    * Blocking (HmSearch-style 1-error chunks): the 64-bit simhash is cut
    * into `64/chunkBits` chunks; every doc indexes its exact chunk
    * values, and probes with each value PLUS its `chunkBits` Hamming-1
    * variants. A probe/index collision therefore means some chunk pair
    * differs in ≤ 1 bit. By pigeonhole a pair within total Hamming
    * `d ≤ 2·nChunks - 1` has some chunk with ≤ floor(d/nChunks) ≤ 1
    * errors, so 16-bit chunks (nChunks = 4) GUARANTEE every pair at
    * Hamming ≤ 7 collides — the same radius 8-bit exact-match chunks
    * give, but on a 65536-value key space instead of 256: on a templated
    * corpus the 256-value buckets degenerate into near-all-pairs
    * enumeration (this query ran 13.5 s at sf0.1 on 8-bit chunks; ~1 s
    * on 16-bit+variants). Probe fan-out is nChunks·(chunkBits+1) rows
    * per doc — 68 for 16-bit chunks — of three small columns.
    *
    * RECALL CONTRACT — `hammingRadius`: candidate pairs whose full
    * 64-bit simhash Hamming distance exceeds the radius are discarded
    * BEFORE the exact-Jaccard verify, so a pair with shingle Jaccard ≥
    * threshold but simhash distance > hammingRadius is not returned.
    * Candidates within the simhash index grow steeply with radius (on
    * the sf0.1 corpus: 419k pairs at radius 11 vs 1.38M at 16) while
    * genuine near-dups concentrate at small distances (max observed 10
    * across test corpora; token-simhash theory puts J ≥ 0.5 pairs well
    * inside radius 12 for ~50-word docs). The default (12) sits above
    * both the pigeonhole guarantee (7) and the observed near-dup band;
    * raise it — at quadratic verify cost — if your corpus pairs
    * high-Jaccard docs with unusually divergent token distributions.
    *
    * The radius alone does NOT bound exact-verify cost on a templated
    * corpus (simhash proximity measures token-distribution overlap, not
    * shingle Jaccard — the r10 sf10 soak saw 3% of all same-template
    * pairs inside radius 12), so radius survivors additionally pass a
    * 256-bit one-permutation minhash sketch reject
    * ([[graft.plans.MinhashBits256]]) carried on the candidate rows:
    * pairs whose sketch-estimated Jaccard sits 4σ below `threshold` are
    * dropped before any shingle array moves, discarding a TRUE pair at
    * J ≥ threshold with ~3e-5 probability. The sketch bits are 256
    * INDEPENDENT 1-bit minwise hashes, so σ = √(p(1−p)/256) is exact at
    * every doc length — short docs keep the full 4σ margin without the
    * per-pair cutoff widening an occupancy-limited one-permutation
    * sketch would need (r11; that widening doubled the surviving
    * radius-band mass on the 78–520-char bench corpus) — the same
    * class as the
    * radius and banding contracts.
    *
    * 32-BIT REGIME CAVEAT: when the auto-switch (corpus > 10⁸ rows,
    * [[simhashChunkBitsFor]]) selects 32-bit chunks, nChunks drops to 2
    * and the pigeonhole guarantee weakens to Hamming ≤ 2·2-1 = 3 —
    * pairs at simhash distance 4..hammingRadius are then found only
    * probabilistically (each needs some 32-bit chunk to land within 1
    * bit, which distance-d pairs satisfy unless their d errors split 2+2
    * or worse across both chunks). Near-dup mass concentrates well
    * inside distance 3 at that scale too, but a caller needing the
    * full guaranteed radius on a 10⁸+ corpus should pass chunkBits = 16
    * explicitly and raise maxBucketSize, or add 2-bit probe variants
    * (C(32,2) = 496 extra probes/chunk) — the trade this operator
    * deliberately does not default to. Hot index
    * values are TRUNCATED to the first `maxBucketSize` ids
    * ([[Skew.truncateHotKeys]]), never dropped — an identical-content
    * flood saturates every chunk position at once, so a drop would
    * silently zero its pairs; truncation keeps survivors pairing with
    * each other (run exact dedup first, as a pipeline should, and the
    * cap never fires). At the default cap nothing truncates below ~10k
    * docs per 16-bit value, i.e. never at test scale; `chunkBits`
    * auto-scales via [[simhashChunkBitsFor]] as the corpus grows so
    * buckets stay small.
    */
  def simhashNearDupPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 8, threshold: Double = 0.5, chunkBits: Int = 0,
      maxBucketSize: Int = 10000, hammingRadius: Int = 12,
      maxIndexBroadcastBytes: Long = 256L << 20): DataFrame = {
    // chunkBits ≤ 0 → derive from corpus size (one memoized count —
    // CorpusStats) so the docstring's 100 TB guidance is enforced by
    // code, not by the reader
    val cb = if (chunkBits > 0) chunkBits
      else simhashChunkBitsFor(CorpusStats.rowCount(df))
    val nChunks = 64 / cb
    val mask = (1L << cb) - 1
    // co-partitioned scratch + merge pins are scale machinery
    // ([[ScaleFloorKey]]); the SKETCH is NOT gated — unlike minhash's
    // prefilter, the radius-band mass it rejects is a property of the
    // corpus's template structure, not its size (r11 measured: gating
    // the sketch off at sf0.1/5k docs REGRESSED dd_simhash 1.44→2.56 s
    // — the sketch pays for itself at every scale)
    val scale = scaleAttach(df)
    def pin(d: DataFrame): DataFrame = if (scale) d.hint("merge") else d
    // persisted: feeds the index, the probes, and both verify-side
    // joins. The id exchange sits BELOW the kernels (r15): raw text
    // shuffles (~10× fewer bytes than the hash-array frame) and the
    // shingle/simhash/minhash256 kernels run post-exchange at full
    // shuffle parallelism instead of the corpus's 1–2 file splits —
    // see minhashNearDupPairs for the measured split-starvation
    val rawText = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val base = (if (scale)
        rawText.repartition(col("id")).sortWithinPartitions("id")
      else rawText)
      .select(col("id"),
        graft.plans.GraftFunctions.hashedCharShingles(
          col("__text"), shingleLen).as("shingles"),
        simhash(split(lower(trim(col("__text"))), "\\s+")).as("sim"))
      .select(col("id"), col("shingles"), col("sim"),
        graft.plans.GraftFunctions.minhashBits256(col("shingles")).as("sk"))
    val sets = persistScratch(base)
    val carryCols: Seq[Column] = Seq(col("id"), col("sim"), col("sk"))
    // truncate (not drop) hot index values: an identical-content flood
    // saturates EVERY chunk position at once, so dropping hot buckets
    // would zero its pairs with no retry path; truncation keeps the
    // deterministic first maxBucketSize ids pairing with each other
    val idx = Skew.truncateHotKeys(sets.select(carryCols :+
      posexplode(array((0 until nChunks).map(c =>
        shiftright(col("sim"), c * cb).bitwiseAND(lit(mask))): _*))
        .as(Seq("chunk", "chunk_val")): _*),
      Seq("chunk", "chunk_val"), maxBucketSize, col("id"))
    val probes = idx.select(carryCols :+ col("chunk") :+
      explode(array(col("chunk_val") +: (0 until cb).map(b =>
        col("chunk_val").bitwiseXOR(lit(1L << b))): _*)).as("chunk_val"): _*)
    // Jaccard-sketch reject cutoff, in sketch-Hamming space: matching
    // bits m of 256 estimate (1+J)/2, so requiring
    // m ≥ 256·((1+τ)/2 − 4σ) — i.e. sketch Hamming ≤ skCutoff — rejects
    // a TRUE pair at J ≥ τ with ~3e-5 probability (the radius contract's
    // class) while dropping the radius-band mass at J ≪ τ before the
    // pair aggregate. This is the scale valve the r10 sf10 soak forced:
    // on a templated corpus simhash distances concentrate (~3% of all
    // same-template pairs inside radius 12 — 42 M candidate pairs at
    // 500 k docs), so WITHOUT a pair-level similarity reject the exact
    // verify attaches shingle arrays to every radius survivor (~300 GB
    // of shuffle at sf10) — the radius alone does not bound verify cost,
    // because simhash proximity measures token-DISTRIBUTION overlap,
    // not the shingle-set Jaccard the operator grades. The 32-byte
    // sketch rides the probe/index rows (no extra join) and the reject
    // runs inside the candidate join, so array movement is bounded by
    // pairs that are plausibly ≥ τ.
    //
    // The flat /256 σ is EXACT at every doc length because the sketch
    // bits are 256 independent 1-bit minwise hashes (MinhashBits256 —
    // r11; the one-permutation/densified form it replaced only drew an
    // independent bit per occupied bucket, which on the short-doc
    // bench corpus forced a per-pair widened cutoff that doubled the
    // surviving radius-band mass). ceil() rounds the allowed sketch
    // Hamming UP (the keep direction): truncation was up to one bit
    // stricter than the stated 4σ margin.
    val pTau = (1.0 + threshold) / 2.0
    val mCut = pTau - 4.0 * math.sqrt(pTau * (1.0 - pTau) / 256.0)
    val skCutoff = math.min(256, math.ceil(256.0 * (1.0 - mCut)).toInt)
    // scan-tier admission (r14, the LSH/IVF budget contract applied to
    // the chunk index): (id, sim, sk) + nChunks CSR bucket directories
    // under the broadcast budget → each doc resolves its probe buckets
    // map-side against the broadcast index, with the truncation,
    // orientation (id_a < id_b), sketch and radius rules replayed
    // exactly — the nChunks·(cb+1)-way probe explode, the 10⁸-collision
    // merge join and the pair-dedup groupBy never exist (they were
    // 5–8 s of the 17 s sf10 isolated median; the probe join's row
    // machinery, not the filters, was the cost). Over-budget corpora
    // (the 100 TB path) and duplicate-id corpora keep the join tier.
    val candScan = simhashScanCand(df, sets, cb, skCutoff, hammingRadius,
      maxBucketSize, maxIndexBroadcastBytes)
    // d(chunk_x, chunk_y) ≤ 1 ⟺ x's probe set hits y's exact value AND
    // vice versa, so the asymmetric probe→index join still sees every
    // qualifying pair in both orientations; id ordering + distinct dedup.
    // the pair's Hamming distance is a function of the pair, identical
    // across its chunk collisions — aggregating it here (min ≡ the
    // value) both dedups collisions AND means the verify stage never
    // re-attaches `sim`: the attaches below move ONLY the shingle
    // arrays, once each
    val cand = candScan.getOrElse(
      probes.as("x").join(idx.as("y"), Seq("chunk", "chunk_val"))
        .filter(col("x.id") < col("y.id"))
        .filter(graft.plans.GraftFunctions.arrayHamming(
          col("x.sk"), col("y.sk")) <= lit(skCutoff))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
          hamming64(col("x.sim"), col("y.sim")).cast("int").as("hamming"))
        .filter(col("hamming") <= hammingRadius)
        .groupBy("id_a", "id_b").agg(min(col("hamming")).as("hamming")))
    // merge-pinned verify attaches — see minhashNearDupPairs (the r9
    // sf10 driver-collect cliff). Corpus side is the co-partitioned
    // scratch: no exchange, no sort of the array frame
    // (persistScratchById); the one array-carrying re-sort (stage-2
    // left side by id_b) moves sh_a for radius-filtered candidates only.
    cand
      .join(pin(sets.select(col("id").as("id_a"), col("shingles").as("sh_a"))),
        Seq("id_a"))
      .join(pin(sets.select(col("id").as("id_b"), col("shingles").as("sh_b"))),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.plans.GraftFunctions.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard"),
        col("hamming"))
      .filter(col("jaccard") >= threshold)
  }

  /** Broadcast-budget accounting for the simhash scan tier: ids + sims
    * (8 B each) + the 32 B sketch per member, plus per chunk a position
    * int and its share of the value/start arrays + array overhead.
    */
  def simhashIndexBytes(n: Long, nChunks: Int): Long =
    n * 48L + nChunks.toLong * n * 24L

  private val simhashBanks =
    Banks.cache[Option[Broadcast[graft.plans.SimhashIndexBank]]]("simhash", 2)

  /** Memoized broadcast simhash chunk index
    * ([[graft.plans.SimhashIndexBank]]) — keyed on the SOURCE frame's
    * semantic plan + file signature + geometry, like the LSH/IVF banks.
    * The collect runs at DataFrame-construction time and reads the
    * (id, sim, sk) columns of the already-persisted scratch — ~48 B/row
    * to the driver, admitted only under `maxIndexBroadcastBytes` by the
    * caller, with the same `spark.driver.maxResultSize` interaction as
    * the other banks. Duplicate ids memoize as None (fail-closed → join
    * tier).
    */
  private def simhashBankFor(df: DataFrame, sets: DataFrame, cb: Int,
      maxBucketSize: Int)
      : Option[Broadcast[graft.plans.SimhashIndexBank]] = {
    val sc = sets.sparkSession.sparkContext
    // keyed on the DERIVED sets frame's semantic hash, not the source
    // df's: the sets plan encodes textCol/idCol/shingleLen, so two
    // calls on the same source with different columns or shingle
    // length cannot alias to one bank (r14 advice); the file signature
    // still covers data changes under an unchanged plan
    simhashBanks(Banks.key("shb", sc.applicationId, Banks.frameKey(sets, df),
        cb, maxBucketSize)) {
      // null ids are filtered like the join tier's semantics (a null id
      // never survives `x.id < y.id` there); without the filter a null
      // would read as doc 0 via getLong and could emit spurious pairs
      // (r14 advice)
      val rows = sets.select(col("id"), col("sim"), col("sk"))
        .filter(col("id").isNotNull && col("sim").isNotNull && col("sk").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray))
      Banks.whenUniqueIds(rows)(_._1)(
        sc.broadcast(graft.plans.SimhashIndexBank(rows, cb, maxBucketSize)))
    }
  }

  /** The simhash candidate SCAN tier: per scratch row — own-chunk
    * probe-eligibility via truncated-bucket membership (≡ the probe
    * frame deriving from the truncated index), the cb+1 probe values
    * per eligible chunk scanned against the broadcast CSR directories,
    * positions deduped (sort + unique ≡ the join path's pair groupBy),
    * then the sketch cutoff, 64-bit Hamming and radius applied per
    * DISTINCT pair (the join path applies them per collision — same
    * deterministic predicates, same survivors). Emitted rows are
    * therefore exactly the join tier's `cand` aggregate: the
    * tier-parity spec and the `dd_simhash` oracle row both pin it.
    *
    * No batching: like the LSH scan (and unlike IVF), the loop is
    * lookup-bound over a ≤ budget-size bank, not DRAM-stream-bound.
    */
  private def simhashScanCand(df: DataFrame, sets: DataFrame, cb: Int,
      skCutoff: Int, hammingRadius: Int, maxBucketSize: Int,
      maxIndexBroadcastBytes: Long): Option[DataFrame] = {
    if (maxIndexBroadcastBytes <= 0) return None
    val n = CorpusStats.rowCount(df)
    if (n == 0 || simhashIndexBytes(n, 64 / cb) > maxIndexBroadcastBytes)
      return None
    val bankOpt = simhashBankFor(df, sets, cb, maxBucketSize)
    if (bankOpt.isEmpty) return None
    val bank = bankOpt.get
    val spark = sets.sparkSession
    import spark.implicits._
    val ncb = cb
    val nch = 64 / cb
    val msk = (1L << cb) - 1
    val cut = skCutoff
    val radius = hammingRadius
    Some(sets.select(col("id"), col("sim"), col("sk"))
      // id.isNotNull mirrors the join tier, where a null id fails every
      // `x.id < y.id` orientation filter (r14 advice)
      .filter(col("id").isNotNull && col("sim").isNotNull && col("sk").isNotNull)
      .as[(Long, Long, Array[Long])]
      .mapPartitions { rows =>
        val b = bank.value
        rows.flatMap { case (xid, xsim, xskArr) =>
          val xpos = java.util.Arrays.binarySearch(b.ids, xid)
          var cand = new Array[Int](64)
          var cn = 0
          var c = 0
          while (c < nch) {
            val shift = c * ncb
            val v0 = (xsim >>> shift) & msk
            val r0 = b.chunks(c).range(v0)
            // probe rows exist only for (id, chunk) pairs that survived
            // truncation in their OWN bucket
            if (xpos >= 0 && b.inBucket(c, r0, xpos)) {
              var pv = 0
              while (pv <= ncb) {
                val r = if (pv == 0) r0
                  else b.chunks(c).range(v0 ^ (1L << (pv - 1)))
                var m = (r >>> 32).toInt
                val e = r.toInt
                val posArr = b.chunkPos(c)
                while (m < e) {
                  val p = posArr(m)
                  if (b.ids(p) > xid) {
                    if (cn == cand.length) cand = java.util.Arrays.copyOf(cand, cn * 2)
                    cand(cn) = p
                    cn += 1
                  }
                  m += 1
                }
                pv += 1
              }
            }
            c += 1
          }
          // sorted-unique positions ≡ the join path's pair groupBy
          java.util.Arrays.sort(cand, 0, cn)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
          var r = 0
          var last = -1
          while (r < cn) {
            val p = cand(r)
            if (p != last) {
              last = p
              val skHam =
                java.lang.Long.bitCount(xskArr(0) ^ b.sk(4 * p)) +
                java.lang.Long.bitCount(xskArr(1) ^ b.sk(4 * p + 1)) +
                java.lang.Long.bitCount(xskArr(2) ^ b.sk(4 * p + 2)) +
                java.lang.Long.bitCount(xskArr(3) ^ b.sk(4 * p + 3))
              if (skHam <= cut) {
                val ham = java.lang.Long.bitCount(xsim ^ b.sims(p))
                if (ham <= radius) out += ((xid, b.ids(p), ham))
              }
            }
            r += 1
          }
          out
        }
      }.toDF("id_a", "id_b", "hamming"))
  }

  /** Winnowing/MOSS fingerprint-overlap pairs: document pairs sharing
    * at least `minShared` DISTINCT kept winnow fingerprints
    * ([[graft.functions.TextAnalysis.winnowFingerprints]]), where
    * "kept" excludes fingerprints in more than `maxDocFreq` documents
    * (boilerplate — s²/2 candidate pairs, near-zero signal). The join
    * tier is the classic inverted-index self-join + pair-count
    * aggregate; its cost is Θ(true fingerprint-overlap mass) (r11/r12
    * probes — at sf10, 120 M pair instances through join + aggregate
    * machinery were 26 of the query's 28 s).
    *
    * SCAN TIER (r14, the same budget-admitted broadcast-bank contract
    * as IVF/LSH/simhash/SemDeDup): when the KEPT inverted index fits
    * the broadcast budget, pair counting runs doc-major against
    * [[graft.plans.WinnowPairBank]] — gather co-member positions above
    * the own position across the doc's fingerprints, sort, run-length
    * encode (the run length ≡ the join tier's COUNT(*) per pair, since
    * each shared kept fingerprint contributes exactly one partner
    * instance). The 10⁸-row pair stream and its aggregate exchange
    * never exist; the only exchange scatters doc ordinals. Duplicate-id
    * corpora fail closed to the join tier (merged fingerprint lists
    * cannot reproduce per-id-value grouping of duplicate rows);
    * over-budget corpora keep the join tier — the 100 TB path, where
    * pair mass ≤ (maxDocFreq−1)/2 · keptOccurrences stays linear in
    * the corpus with a bounded constant.
    */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8, w: Int = 8, maxDocFreq: Int = 100, minShared: Int = 20,
      maxIndexBroadcastBytes: Long = 256L << 20): DataFrame = {
    // the winnow rolling-hash kernel otherwise runs at file-split
    // parallelism (r15 split-starvation class — it dominated the scan
    // tier's one-time bank build); the exchange is gated on actual
    // under-parallelism so a corpus with thousands of splits never
    // pays a text shuffle it doesn't need
    val rawText = df.select(col(idCol).as("id"), col(textCol).as("__text"))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val laidOut =
      if (rawText.rdd.getNumPartitions < par) rawText.repartition(par)
      else rawText
    val fps = laidOut.select(col("id"),
      explode(array_distinct(graft.functions.TextAnalysis
        .winnowFingerprints(col("__text"), k, w))).as("fp"))
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq).select("fp")
    // persisted through the scratch registry (releaseIntermediates
    // lifecycle): the scan tier's admission count and bank collect, and
    // the join tier's two self-join sides, would otherwise each re-run
    // the winnow kernel + keep groupBy — the narrow (id, fp) rows cache
    // once and every consumer reads them (r15: one ~4 s kernel pass off
    // the one-time bank build at sf10)
    val inv = persistScratch(fps.join(keep, Seq("fp"), "left_semi"))
    winnowScanPairs(df, idCol, inv, minShared, maxIndexBroadcastBytes)
      .getOrElse(
        inv.as("x").join(inv.as("y"), Seq("fp"))
          .filter(col("x.id") < col("y.id"))
          .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .agg(count(lit(1)).cast("long").as("shared_fps"))
          .filter(col("shared_fps") >= minShared))
  }

  /** Broadcast-budget accounting for the winnow scan tier: two CSR
    * orientations of the kept occurrences (an int each + start-array
    * share) plus the sorted doc-id directory.
    */
  def winnowIndexBytes(keptOccurrences: Long, nDocs: Long): Long =
    keptOccurrences * 16L + nDocs * 24L

  private val winnowBanks =
    Banks.cache[Option[Broadcast[graft.plans.WinnowPairBank]]]("winnow", 2)

  private def winnowScanPairs(df: DataFrame, idCol: String, inv: DataFrame,
      minShared: Int, maxIndexBroadcastBytes: Long): Option[DataFrame] = {
    if (maxIndexBroadcastBytes <= 0) return None
    val nDocs = CorpusStats.rowCount(df)
    if (nDocs == 0) return None
    // kept-occurrence mass for admission (memoized; the collect below
    // is the same job's data)
    val keptOcc = CorpusStats.rowCount(inv)
    if (winnowIndexBytes(keptOcc, nDocs) > maxIndexBroadcastBytes) return None
    // duplicate ids → fail-closed (one memoized distinct-count job,
    // only paid by otherwise-admissible corpora)
    if (CorpusStats.rowCount(df.select(col(idCol)).distinct()) != nDocs)
      return None
    val sc = inv.sparkSession.sparkContext
    val bankOpt = winnowBanks(Banks.key("wb", sc.applicationId, Banks.frameKey(inv, df))) {
      // explicit projection: a using-column join reorders columns to
      // put the key first, so a positional read would swap (id, fp).
      // null ids drop like the join tier (null fails x.id < y.id);
      // unfiltered they would read as doc 0 via getLong (r14 advice)
      val rows = inv.filter(col("id").isNotNull)
        .select(col("id"), col("fp")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      Some(sc.broadcast(graft.plans.WinnowPairBank(rows)))
    }
    if (bankOpt.isEmpty) return None
    val bank = bankOpt.get
    val spark = inv.sparkSession
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val minS = minShared
    val nBankDocs = bank.value.nDocs
    Some(spark.range(nBankDocs.toLong).repartition(par).as[Long]
      .mapPartitions { ords =>
        val b = bank.value
        ords.flatMap { xl =>
          val x = xl.toInt
          var cand = new Array[Int](64)
          var cn = 0
          var fi = b.docStart(x)
          val fe = b.docStart(x + 1)
          while (fi < fe) {
            val f = b.docFpOrd(fi)
            val s = b.fpStart(f)
            val e = b.fpStart(f + 1)
            // members ascend; take the strict tail above the own
            // position (id_a < id_b orientation)
            var m = java.util.Arrays.binarySearch(b.fpDocPos, s, e, x)
            m = if (m >= 0) m + 1 else -(m + 1)
            while (m < e) {
              if (cn == cand.length) cand = java.util.Arrays.copyOf(cand, cn * 2)
              cand(cn) = b.fpDocPos(m)
              cn += 1
              m += 1
            }
            fi += 1
          }
          java.util.Arrays.sort(cand, 0, cn)
          // run-length ≡ shared kept fingerprints per partner
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          var r = 0
          while (r < cn) {
            var q = r + 1
            while (q < cn && cand(q) == cand(r)) q += 1
            if (q - r >= minS) out += ((b.ids(x), b.ids(cand(r)), (q - r).toLong))
            r = q
          }
          out
        }
      }.toDF("id_a", "id_b", "shared_fps"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs that share at
    * least one shingle (inverted-index blocking — all-pairs is never
    * materialized; non-near-dup pairs sharing common shingles are pruned
    * by the similarity threshold after an exact set comparison).
    *
    * `maxDocFreq` caps the inverted index: a shingle present in more
    * documents than that is boilerplate — it contributes s²/2 candidate
    * pairs and near-zero blocking signal, and one such shingle is a
    * days-long straggler at 100 TB. Since the index holds only prefix
    * hashes (below), capping can lose a pair whose every shared PREFIX
    * shingle is boilerplate-hot — prefix filtering narrows the cap's
    * retry surface (shared non-prefix shingles no longer rescue the
    * pair). At the default it never fires below ~10k-document shingle
    * frequency (and so never at test SFs — the graded entry stays
    * exact).
    *
    * The index holds only each document's PREFIX — its smallest
    * `|S| − ⌈t·|S|⌉ + 1` shingle hashes (prefix filtering: Chaudhuri
    * et al., "A Primitive Operator for Similarity Joins", ICDE'06;
    * Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08). For J(A,B) ≥ t the overlap is ≥ ⌈t·max(|A|,
    * |B|)⌉, so under any global token order the two prefixes must
    * share a token — indexing the rest only manufactures candidates
    * that verification would reject. The sorted-distinct hash arrays
    * already carry the global order, verification still compares FULL
    * sets, so the result is bit-identical while the index shrinks to
    * ~(1−t)·|S| rows and the candidate term by ~(1−t)²: this is what
    * keeps the sf1→sf4 growth of the candidate join bounded. A size
    * filter (min ≥ t·max, same bound with overlap ≤ min) prunes
    * cross-length candidates before the distinct.
    *
    * `carry` names additional `df` columns to surface on the pair
    * output as `<col>_a`/`<col>_b` (e.g. a `source` tag for the
    * cross-source overlap matrix). Carried values ride the persisted
    * scratch frame through the verify attaches the operator already
    * performs — attaching them via extra post-hoc joins would re-key
    * the (large) pair list once per join and re-scan the corpus, which
    * at the r9 sf10 soak made the overlap matrix the heaviest
    * non-ANN query (75 s vs the bare pair list's 50 s).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 24, stride: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Int = 10000, carry: Seq[String] = Nil): DataFrame = {
    // per-doc sorted hash set: the inverted index blocks on the 64-bit
    // shingle hash and pair verification merge-scans primitive longs.
    // Persisted: feeds the index build and both verify-side joins.
    // Co-partition + merge pins are scale machinery ([[ScaleFloorKey]])
    val scale = scaleAttach(df)
    def pin(d: DataFrame): DataFrame = if (scale) d.hint("merge") else d
    // id exchange below the kernel — raw text shuffles, shingle
    // hashing runs post-exchange at full parallelism (r15; see
    // minhashNearDupPairs for the measured split-starvation)
    val rawText = df.select(col(idCol).as("id") +: col(textCol).as("__text") +:
      carry.map(col): _*)
    val sets = (if (scale)
        rawText.repartition(col("id")).sortWithinPartitions("id")
      else rawText)
      .select(col("id") +:
        graft.plans.GraftFunctions.hashedCharShingles(
          col("__text"), shingleLen, stride).as("shingles") +:
        carry.map(col): _*)
      .transform(persistScratch)
    // ceil must never round UP past the exact ⌈t·s⌉ (a too-short prefix
    // loses pairs); the epsilon makes float error shorten the ceil —
    // i.e. lengthen the prefix — which only adds candidates.
    val sz = size(col("shingles"))
    val pfxLen = greatest(lit(1),
      sz - ceil(sz * lit(threshold) - lit(1e-9)).cast("int") + lit(1))
    val inv = Skew.capHotKeys(
      sets.select(col("id"), sz.as("sz"),
        explode(slice(col("shingles"), lit(1), pfxLen)).as("sh")),
      Seq("sh"), maxDocFreq)
    val cand = inv.as("x").join(pin(inv.as("y")), Seq("sh"))
      .filter(col("x.id") < col("y.id") &&
        least(col("x.sz"), col("y.sz")) >=
          greatest(col("x.sz"), col("y.sz")) * lit(threshold) - lit(1e-9))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    // merge-pinned verify attaches — see minhashNearDupPairs (the r9
    // sf10 driver-collect cliff)
    cand
      .join(pin(sets.select(col("id").as("id_a") +: col("shingles").as("sh_a") +:
        carry.map(c => col(c).as(s"${c}_a")): _*)), Seq("id_a"))
      .join(pin(sets.select(col("id").as("id_b") +: col("shingles").as("sh_b") +:
        carry.map(c => col(c).as(s"${c}_b")): _*)), Seq("id_b"))
      .select(col("id_a") +: col("id_b") +:
        graft.plans.GraftFunctions.sortedJaccard(col("sh_a"), col("sh_b")).as("jaccard") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
      .filter(col("jaccard") >= threshold)
  }

  /** Connected components over a near-duplicate pair list, by
    * alternating large-star / small-star contraction (the published
    * MapReduce formulation — Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14 — chosen over plain label
    * propagation because it converges in O(log²·) rounds on ANY graph
    * shape, where propagation needs O(diameter) rounds and a single
    * 100 TB boilerplate chain can have huge diameter).
    *
    * Input: an edge list (undirected; direction and duplicates
    * ignored). Output: one row per node appearing in any edge —
    * `(id, component)` with `component` = the minimum node id of its
    * connected component. Callers label singletons by left-joining and
    * coalescing to the node's own id.
    *
    * Scale: each round is a fixed number of hash/window shuffles over
    * the current edge list, which contracts toward the final star
    * graph; nothing is ever collected to the driver. Convergence is
    * detected by an order-independent (count, bit_xor of pair hashes)
    * checksum — one tiny aggregate action per round. A checksum
    * collision (same count AND same 64-bit xor for a different edge
    * set) could only end the loop one round early; with xxhash64 that
    * is a ~2⁻⁶⁴ event, and the alternation is monotone (each round only
    * contracts components), so it cannot oscillate.
    *
    * Storage lifecycle: every per-round checkpoint is released as soon
    * as the next round materializes (and on a non-convergence failure,
    * in the finally block) — `Dataset.unpersist` does NOT touch
    * checkpoint blocks, so release goes through
    * [[org.apache.spark.sql.GraftSqlShim.releaseCheckpoint]]. The
    * returned label frame is itself eagerly checkpointed (one row per
    * node — the only storage the call leaves behind), so callers can
    * reuse it across any number of downstream aggregations without
    * re-running the contraction, and release it with [[release]] when
    * done.
    */
  val CcMaxDriverEdgesKey = "spark.graft.cc.maxDriverEdges"

  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 25, maxDriverEdges: Long = 4000000L): DataFrame = {
    // large-star: every node u points its LARGER neighbors at the
    // minimum of its neighborhood (incl. itself) — long chains collapse
    // exponentially while edge count never grows
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      val w = Window.partitionBy("u")
      // no distinct here: duplicate edges don't change small-star's
      // per-group minima, and the round's single dedup happens there —
      // one shuffle per round instead of two on the tiny edge list
      sym.withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    // small-star: every node u points its smaller neighbors (and
    // itself) at their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")).filter(col("u") =!= col("v"))
      val w = Window.partitionBy("u")
      val withMin = or.withColumn("m", min(col("v")).over(w))
      withMin.select(col("v").as("u"), col("m").as("v"))
        .union(withMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def checksum(d: DataFrame): (Long, Long) = {
      val r = d.agg(
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)),
        count(lit(1))).first()
      (r.getLong(0), r.getLong(1))
    }
    // localCheckpoint (not a plain persist): each round's plan embeds
    // the previous round's TWICE (the symmetric/star unions), so without
    // lineage truncation the logical plan doubles per round and the
    // per-action plan stringification alone OOMs by ~round 15. On a
    // fault-tolerant cluster use a reliable checkpoint dir instead —
    // same call shape, recomputation-safe.
    var e = edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
      .distinct()
      .localCheckpoint(true)
    // DRIVER tier (r14, the broadcast-bank admission contract applied
    // to CC): a deduped edge list under `maxDriverEdges` (~64 MB of
    // longs at the default) is union-find on the driver — near-dup
    // edge lists are tiny relative to their corpora (sf10: 116 k edges
    // off 500 k docs), and each large-star/small-star round below costs
    // 2 shuffles + a checkpoint + a checksum action REGARDLESS of edge
    // count, so a ~8-round convergence on a small graph is pure fixed
    // overhead (~6 s of dd_cluster's 12 at sf10). Union-by-min-root +
    // path compression yields component = min node id — the same
    // labels as the alternating-star fixpoint, by definition. Larger
    // graphs (the 100 TB path) keep the distributed loop.
    // session override (`spark.graft.cc.maxDriverEdges`): lifecycle
    // specs pin the distributed tier with 0; a deployment can widen or
    // disable the driver tier as policy
    val driverCap = edges.sparkSession.conf
      .getOption(CcMaxDriverEdgesKey).map(_.toLong).getOrElse(maxDriverEdges)
    if (e.count() <= driverCap) {
      try {
        val spark = edges.sparkSession
        import spark.implicits._
        // collect through a primitive-typed Dataset into per-partition
        // packed long arrays: a Row collect of 4 M edges materializes
        // hundreds of MB of boxed Row objects transiently on the driver
        // (r14 advice) — the packed form is the ~16 B/edge the cap's
        // "~64 MB" sizing actually promises
        val chunks: Array[Array[Long]] = e.as[(Long, Long)]
          .mapPartitions { it =>
            val buf = new scala.collection.mutable.ArrayBuilder.ofLong
            it.foreach { case (u, v) => buf += u; buf += v }
            Iterator.single(buf.result())
          }.collect()
        val nEdges = chunks.iterator.map(_.length / 2).sum
        val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](
          nEdges * 2)
        def find(x0: Long): Long = {
          var x = x0
          var p = parent.get(x)
          if (p == null) { parent.put(x, x); return x }
          while (p != x) {
            val gp = parent.get(p.longValue())
            parent.put(x, gp) // path halving
            x = gp
            p = parent.get(x)
          }
          x
        }
        chunks.foreach { arr =>
          var i = 0
          while (i < arr.length) {
            val ru = find(arr(i))
            val rv = find(arr(i + 1))
            if (ru != rv) {
              // min id becomes the root, so find() IS the component label
              if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
            }
            i += 2
          }
        }
        // label output is node-bounded (≤ 2·edges, typically far less
        // on near-dup graphs) — the transient tuple boxing here is an
        // order smaller than the edge collect the packed form replaced
        val labels = new Array[(Long, Long)](parent.size())
        val it = parent.keySet().iterator()
        var i = 0
        while (it.hasNext) {
          val id = it.next().longValue()
          labels(i) = (id, find(id))
          i += 1
        }
        return labels.toSeq.toDF("id", "component")
      } finally org.apache.spark.sql.GraftSqlShim.releaseCheckpoint(e)
    }
    try {
      var prev = checksum(e)
      var converged = prev._2 == 0L
      var rounds = 0
      while (!converged && rounds < maxIter) {
        val next = smallStar(largeStar(e)).localCheckpoint(true)
        val cs = checksum(next)
        org.apache.spark.sql.GraftSqlShim.releaseCheckpoint(e)
        e = next
        converged = cs == prev
        prev = cs
        rounds += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
      // converged edge list is a star forest: (u, root) for every
      // non-root member; roots label themselves. Checkpointed eagerly so
      // the edge checkpoint can be released before returning.
      e.select(col("u").as("id"), col("v").as("component"))
        .union(e.select(col("v").as("id"), col("v").as("component")))
        .groupBy("id").agg(min(col("component")).as("component"))
        .localCheckpoint(true)
    } finally {
      // releases the last round's checkpoint on BOTH paths: after the
      // labels materialize on success, and before the require's
      // exception propagates on non-convergence
      org.apache.spark.sql.GraftSqlShim.releaseCheckpoint(e)
    }
  }

  /** Release the checkpoint storage behind a frame returned by
    * [[connectedComponents]] (or any `localCheckpoint`ed frame) once the
    * caller no longer needs it. No-op on other frames.
    */
  def release(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSqlShim.releaseCheckpoint(df)

  /** Embedding near-dup: pairs with cosine ≥ threshold, blocked by
    * multi-table hyperplane-LSH so only bucket-colliding pairs are
    * compared — the scale-safe form of the exact all-pairs cosine join.
    *
    * Recall math: a pair at angle θ collides in one `nBits`-bit table
    * with p = (1-θ/π)^nBits, and is MISSED by all tables with
    * (1-p)^nTables. The cosine filter itself is exact, so the only
    * error mode is a missed collision. Tune for the threshold: at
    * cosine ≥ 0.95 use nBits 8–16 (p is high, buckets tiny); near the
    * 0.45–0.6 band this repo's test corpus plants, fewer bits + more
    * tables keep the miss probability ~1e-3 per pair (nBits=2,
    * nTables=12 → p≈0.44, miss≈(0.56)^12≈9e-4). Candidate volume is
    * bounded by salt-splitting, below.
    *
    * Bucket bounding: over-large (t, bucket) groups are salt-split into
    * sub-groups of ≤ `maxBucketSize` ([[Skew.saltOversized]]) rather
    * than dropped — dropping a hot LSH bucket would silently zero the
    * result once N/2^nBits crossed the cap, while salting only misses
    * the cross-salt pairs of that one table, which the other nTables-1
    * tables retry independently. Worst-case candidate volume is thereby
    * ~nTables·N·maxBucketSize/2 pairs — linear in N at fixed cap, not
    * the N²/2^nBits of unbounded buckets. At low thresholds with few
    * bits the constant is still large: raise nBits alongside corpus
    * size when the threshold allows.
    */
  /** LSH table parameters for [[embeddingNearDupPairs]], derived from
    * corpus size + threshold + recall bound instead of fixed constants
    * (the r5 sf1 soak caught fixed nBits=2 going quadratic: buckets grow
    * linearly with N, so within-bucket pairs grow as N²).
    *
    *  - `nBits` targets ~2k-vector buckets: ceil(log2(n/2048)), so
    *    bucket size stays bounded as the corpus grows;
    *  - `nTables` restores the recall contract at that selectivity: a
    *    qualifying pair collides per table with p₁ = (1-θ/π)^nBits, so
    *    tables = ln(maxMiss)/ln(1-p₁) keeps the analytic miss ≤ maxMiss.
    *
    * Honest scale physics: hyperplane LSH prunes by the per-bit gap
    * between p at the threshold angle and p = ½ for orthogonal pairs —
    * at cosine ≥ 0.8 the gap is wide and candidates stay ~linear in N;
    * at low thresholds (the 0.45 this repo's test corpus plants) the
    * gap is thin (0.65 vs 0.5), the optimal exponent is N^(1+ρ) with
    * ρ ≈ 0.62, and no parameter choice makes an EXACT-recall blocked
    * join linear — the knobs here minimize the constant and keep the
    * degradation graceful instead of cliff-shaped.
    */
  def embeddingLshTablesFor(nBits: Int, threshold: Double,
      maxMiss: Double = 1e-4): Int = {
    val p1 = math.pow(1.0 - math.acos(math.min(threshold, 0.999)) / math.Pi, nBits)
    math.max(8, math.ceil(math.log(maxMiss) / math.log1p(-p1)).toInt)
  }

  /** (bits, tables) minimizing a unit-cost model of the blocked join at
    * corpus size n, subject to the analytic miss bound ≤ `maxMiss` at
    * the threshold angle. The three cost terms, in "row ops":
    * index explosion n·T; pre-dedup candidate rows (n²/2)·T·2^-bits
    * (orthogonal pairs collide per table with 2^-bits); and verify work
    * 2·(n²/2)·P(any-table collision) for the two vector joins on
    * distinct pairs. More bits cut candidates but demand exponentially
    * more tables for the same recall — the model finds the knee instead
    * of hard-coding either side. Table count is capped (explosion
    * rows + bucket-key space); the cap binds only at corpus sizes
    * where the low-threshold regime is already super-linear.
    */
  def embeddingLshParamsFor(n: Long, threshold: Double,
      maxMiss: Double = 1e-4, maxTables: Int = 4096): (Int, Int) = {
    val pairs = n.toDouble * n / 2
    var best = (2, embeddingLshTablesFor(2, threshold, maxMiss))
    var bestCost = Double.MaxValue
    for (b <- 2 to 20) {
      val t = embeddingLshTablesFor(b, threshold, maxMiss)
      if (t <= maxTables) {
        val p2 = math.pow(0.5, b)
        val cost = n.toDouble * t + pairs * t * p2 +
          2.0 * pairs * (1.0 - math.pow(1.0 - p2, t))
        if (cost < bestCost) { bestCost = cost; best = (b, t) }
      }
    }
    best
  }

  /** (bits, tables) for the BROADCAST-verify tier, where a candidate
    * pair is resolved inside the bucket-local per-partition loop (one
    * prorated-gated popcount against the broadcast sketch bank — no
    * shuffle, no join, no row machinery per pair). The cost asymmetry
    * strongly favors fewer tables: an explosion row is shuffled ONCE
    * (weight 1 — the r11 bucket-local rewrite removed the self-join's
    * second pass) but then pays sort + decode machinery, while a
    * candidate pair costs a ~4-word prorated popcount.
    *
    * Weights CALIBRATED r12 (`tools/EmbedStageProbe`, sf4, n=80 k,
    * b=12/t=1658): 132.6 M explosion rows → 20.8 s of shuffle + sort +
    * decode (~157 ns/row); 1.9 G collisions through the prorated gate
    * → ≲1 s (~8 ns each) — candWeight ≈ 8/157 ≈ 0.05. The stale
    * pre-rewrite weights (2.0 / 0.35) over-priced candidates 7× and
    * drove the model to b=12+ geometries whose explosion rows were 68%
    * of the whole operator's wall.
    */
  def embeddingLshParamsBroadcast(n: Long, threshold: Double,
      maxMiss: Double = 1e-4, maxTables: Int = 4096,
      candWeight: Double = 0.05): (Int, Int) = {
    val pairs = n.toDouble * n / 2
    var best = (2, embeddingLshTablesFor(2, threshold, maxMiss))
    var bestCost = Double.MaxValue
    for (b <- 2 to 20) {
      val t = embeddingLshTablesFor(b, threshold, maxMiss)
      if (t <= maxTables) {
        val cost = n.toDouble * t + candWeight * pairs * t * math.pow(0.5, b)
        if (cost < bestCost) { bestCost = cost; best = (b, t) }
      }
    }
    best
  }

  /** SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023): partition the embedding space into cells, compare pairs
    * only WITHIN a cell, ship pairs with cosine ≥ threshold. Unlike
    * [[embeddingNearDupPairs]] (multi-table LSH, recall-bounded by the
    * table count) this is the published cluster-blocked formulation:
    * deliberately lossy across cell boundaries — a pair split between
    * two cells is never compared, which is the accepted trade for ONE
    * assignment pass + strictly cell-local joins at web scale.
    *
    * Cells come from [[Similarity.seededCentroids]] (md5-ranked seed
    * vectors) rather than trained KMeans, which makes the whole
    * operator a deterministic function of the data: the graded query
    * reproduces assignment AND pair decisions in SQL. Production
    * sizing: `nLists ≤ 0` derives √N cells via [[Similarity.ivfListsFor]]
    * (cell size ~√N, pair work ~N^1.5 — the SemDeDup paper's regime).
    * The graded entries run THIS production derivation: the oracle
    * replays it in SQL from COUNT(*) (r10; formerly pinned at 16
    * cells, which made the graded plan N²/16 by construction).
    */
  def semDedupPairs(df: DataFrame, vecCol: String, idCol: String,
      nLists: Int = 0, threshold: Double = 0.45,
      maxIndexBroadcastBytes: Long = 256L << 20,
      memoKey: Option[String] = None): DataFrame = {
    import graft.functions.VectorFunctions._
    val lists = if (nLists > 0) nLists
      else Similarity.ivfListsFor(CorpusStats.rowCount(df),
        CorpusStats.vecDim(df, vecCol))
    val cents = Similarity.seededCentroids(df, idCol, vecCol, lists)
    // scan-tier admission (r14): the whole inverted file under the
    // broadcast budget → the per-cell pair enumeration runs map-side
    // over list ordinals against the SAME memoized IvfIndexBank the
    // IVF scan tier uses — the corpus-wide cell self-join never exists.
    // Over-budget and duplicate-id corpora keep the join tier below
    // (the 100 TB path).
    //
    // memoKey (r17 ask #3): a content key for the bank memos, supplied
    // by callers whose `df` lineage crosses a checkpoint (plan-hash
    // keys are identity-sensitive there — see bankBroadcastFor). The
    // derived list count is appended: centroids and the inverted file
    // are functions of (content, lists), and a caller overriding
    // nLists must not alias the auto-sized bank.
    Similarity.semDedupScanPairs(df, idCol, vecCol, cents, threshold,
      maxIndexBroadcastBytes,
      memoKey = memoKey.map(k => s"$k|lists=$lists")).getOrElse {
      val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("vec"),
        normSq(col(vecCol)).as("nsq"))
      val (assigned, _) = Similarity.assignAndProbe(withNorm, cents, 1, None)
      val a = assigned.select(col("list_id"), col("id").as("id_a"),
        col("vec").as("va"), col("nsq").as("na"))
      val b = assigned.select(col("list_id"), col("id").as("id_b"),
        col("vec").as("vb"), col("nsq").as("nb"))
      // merge-pinned: the cell self-join's sides are the full
      // vector-carrying corpus (scan-sized estimates after the r10
      // map-side assignment) — a broadcast conversion would build the
      // whole corpus as a hash relation, the r7 embed-family cliff class
      a.join(b.hint("merge"), Seq("list_id"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("list_id"),
          cosineFromParts(dot(col("va"), col("vb")), col("na"), col("nb"))
            .as("cosine"))
        .filter(col("cosine") >= threshold)
    }
  }

  /** Optimal hyperplane-LSH exponent ρ at a cosine threshold: a
    * qualifying pair agrees per hyperplane bit with p₁ = 1 − θ/π, an
    * orthogonal pair with p₂ = 1/2, and any (bits, tables) geometry
    * meeting the recall contract does Θ(N^(1+ρ)) pair work with
    * ρ = ln p₁ / ln p₂ (Indyk–Motwani analysis; SCALE_SOAK.md "honest
    * physics"). Pure — shared by the planner docs, the runtime
    * advisory, and its spec.
    */
  def embedThresholdRho(threshold: Double): Double = {
    val p1 = 1.0 - math.acos(math.max(-1.0, math.min(threshold, 0.999))) / math.Pi
    math.log(p1) / math.log(0.5)
  }

  /** Threshold→regime contract of [[embeddingNearDupPairs]] surfaced at
    * runtime (advisory only — behavior never changes): when the
    * requested threshold implies ρ > 0.5, total pair work grows faster
    * than N^1.5 BY LSH PHYSICS — no parameter choice fixes it, and on a
    * large corpus the caller should know before the job runs for hours.
    * At the production regime (cosine ≥ ~0.7, ρ ≤ ~0.44) the advisory
    * stays silent. Returns the advisory it recorded, if any; recent
    * advisories are also queryable via [[drainAdvisories]] (the "report"
    * surface) and logged at WARN.
    */
  case class RegimeAdvisory(threshold: Double, corpusRows: Long, rho: Double) {
    def message: String = {
      val r = "%.2f".formatLocal(java.util.Locale.ROOT, rho)
      val e = "%.2f".formatLocal(java.util.Locale.ROOT, 1.0 + rho)
      s"embeddingNearDupPairs(threshold=$threshold) on $corpusRows rows: " +
        s"hyperplane-LSH exponent rho=$r > 0.5 at this threshold, so candidate+verify " +
        s"work scales ~N^$e regardless of (bits, tables) — information-theoretic, not " +
        "tunable (SCALE_SOAK.md: honest physics). Near-dup corpora usually operate at " +
        "cosine >= 0.7 (rho <= 0.44, near-linear); use a higher threshold, or budget " +
        "for the super-linear cost."
    }
  }

  private val advisoryLog =
    new java.util.concurrent.ConcurrentLinkedQueue[RegimeAdvisory]()
  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `spark.graft.embed.regime = advise | enforce` — the user-visible
    * contract around the super-linear threshold regime (r12, closing
    * the r11 "embed endgame" item on the ENFORCED-advisory branch: the
    * r12 probes confirmed the adversarial tier is mass-bound at every
    * stage — prorated-gated pair math is ~free, and the remaining cost
    * is the admitted candidate/survivor MASS itself flowing through
    * sort/distinct/verify, which no plan change removes; see
    * SCALE_SOAK.md "supported-threshold envelope"). `advise` (default)
    * logs + records the advisory and runs; `enforce` REFUSES a
    * super-linear threshold with the same message, so a platform team
    * can pin the near-linear envelope (cosine ≥ ~0.7) as policy on
    * shared clusters.
    */
  val RegimeModeKey = "spark.graft.embed.regime"

  /** `auto` (default) admits the broadcast-bank bucket-directory scan
    * tier of [[embeddingNearDupPairs]] when its exact size model fits
    * the broadcast budget; `off` forces the (bucketKey, salt)
    * shuffle+sort pipeline at any size — the tier-parity spec uses it
    * to pin the two paths bit-for-bit on identical blocking.
    */
  val EmbedScanTierKey = "spark.graft.embed.scanTier"

  /** Evaluate (and if super-linear, record + log — or, under
    * `enforce`, reject) the regime advisory. Called by
    * [[embeddingNearDupPairs]] on every invocation.
    */
  def embedRegimeAdvisory(threshold: Double, corpusRows: Long,
      mode: String = "advise"): Option[RegimeAdvisory] = {
    val rho = embedThresholdRho(threshold)
    if (rho <= 0.5) None
    else {
      val a = RegimeAdvisory(threshold, corpusRows, rho)
      if (mode.equalsIgnoreCase("enforce"))
        throw new IllegalArgumentException(
          s"$RegimeModeKey=enforce: " + a.message)
      advisoryLog.add(a)
      while (advisoryLog.size > 64) advisoryLog.poll() // bounded report buffer
      logger.warn(a.message)
      Some(a)
    }
  }

  /** Drain and return the advisories recorded since the last drain —
    * the programmatic report surface for pipeline drivers that collect
    * operator warnings.
    */
  def drainAdvisories(): Seq[RegimeAdvisory] = {
    val b = Seq.newBuilder[RegimeAdvisory]
    var a = advisoryLog.poll()
    while (a != null) { b += a; a = advisoryLog.poll() }
    b.result()
  }

  /** Hamming-prefilter cutoff on a `poolBits` sketch for pairs at
    * cosine ≥ `threshold`: expected disagreement is poolBits·θ/π, plus a
    * 4σ one-sided keep margin (σ ≤ √poolBits/2, the binomial sd bound —
    * the true sd at any usable threshold is smaller, so the effective
    * margin is >4σ) — per-pair prefilter miss ~3e-5, the same contract
    * class as the LSH banding recall budget and the simhash sketch
    * reject. The margin is THE knee of the whole adversarial-threshold
    * pipeline: every σ of slack lowers the cosine the cutoff admits
    * (cutoff c keeps pairs down to cos(c·π/poolBits)), and on a
    * ρ>0.5 corpus the candidate mass grows fast as that boundary
    * drops. Probe-measured at sf4/θ=0.45/poolBits=2048 (EmbedProbe,
    * r11): 6σ admitted cos ≳ 0.255 → 271 M prefilter survivors and a
    * 74.7 M-pair distinct+verify; 4σ admits cos ≳ 0.32 → 98 M
    * survivors, 19.3 M verify pairs (−74%), for ~1e-5 more per-pair
    * miss. An orthogonal pair (expected poolBits/2) still sits many σ
    * above the cutoff at any threshold with a usable LSH gap.
    */
  def hammingCutoff(poolBits: Int, threshold: Double): Int = {
    val p1 = 1.0 - math.acos(math.min(threshold, 0.999)) / math.Pi
    math.min(poolBits,
      math.ceil(poolBits * (1.0 - p1) + 2.0 * math.sqrt(poolBits.toDouble)).toInt)
  }

  /** Per-word-boundary prorated reject checkpoints for the prefilter's
    * running popcount (r12): entry w−1 bounds the Hamming of the first
    * 64·w bits at the expected disagreement rate (θ/π per bit) plus a
    * 5σ margin (σ ≤ √bits/2, the same binomial bound as
    * [[hammingCutoff]]), clamped to the full 4σ cutoff — so the LAST
    * checkpoint IS [[hammingCutoff]] and the gated predicate is a
    * strict subset of `hamming ≤ cutoff`. A non-qualifying pair's
    * running count grows at ~0.5/bit and crosses its checkpoint after
    * ~4 of 32 words (2048-bit pool) instead of ~25 under the single
    * full-width cutoff — the collision popcount loop is the dominant
    * cost of the adversarial tier, so this is a direct ~4× cut of that
    * loop. Recall: each 5σ prefix checkpoint trips a TRUE
    * threshold-cosine pair with ≤ ~3e-7; union over ≤32 checkpoints
    * adds ≤ ~1e-5 to the final cutoff's ~3e-5 per-pair miss — the same
    * contract class. Both tiers filter with the SAME array
    * ([[graft.plans.HammingWithinCheckpoints]]), keeping candidate
    * sets tier-identical pre-verify.
    */
  /** Whether `(bk << 24) | salt` is injective for this geometry: bk
    * occupies `bits + ⌈log₂ tables⌉` bits (PoolBucketKeys layout) and
    * must fit the 40 bits above the shift, and the salt bound
    * ⌈n/maxBucketSize⌉ must fit the 24 below. Auto geometry always
    * fits (bits ≤ 20, tables ≤ 4096 → 32 bits; salt < n < 2²⁴ on any
    * budget-admitted corpus); caller-supplied nBits > 28 or a tiny
    * maxBucketSize on a huge corpus does not, and silently merging
    * bucket groups there would blow up candidate volume and skew with
    * no diagnostic (r12 ADVICE) — such geometries keep the two-column
    * (bk, __salt) key.
    */
  private[graft] def packedKeyFits(bits: Int, tabs: Int, n: Long,
      maxBucketSize: Int): Boolean = {
    val tableBits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, tabs.toLong - 1))
    val saltBound = math.max(1L, (n + maxBucketSize - 1) / maxBucketSize)
    bits + tableBits <= 40 && saltBound <= (1L << 24)
  }

  def hammingCheckpoints(poolBits: Int, threshold: Double): Array[Int] = {
    val words = (poolBits + 63) / 64
    val p1 = 1.0 - math.acos(math.min(threshold, 0.999)) / math.Pi
    val cut = hammingCutoff(poolBits, threshold)
    Array.tabulate(words) { wi =>
      val bits = math.min(64 * (wi + 1), poolBits)
      math.min(cut,
        math.ceil(bits * (1.0 - p1) + 2.5 * math.sqrt(bits.toDouble)).toInt)
    }
  }

  // value None = duplicate corpus ids → scan-tier-INELIGIBLE (the
  // (bucketKey, salt) pipeline below keeps its own duplicate contract:
  // identical duplicate rows tolerated, conflicting ids fail fast)
  private val embedBanks =
    Banks.cache[Option[Broadcast[graft.plans.EmbedIndexBank]]]("embed", 2)

  /** The embedding near-dup candidate SCAN tier (r15 — see
    * [[graft.plans.EmbedIndexBank]]): distinct checkpoint-surviving
    * pairs enumerated by a zero-input-shuffle distributed loop over
    * (table, bucket-lane) units against broadcast per-table bucket
    * directories, instead of shuffling + sorting the n·tables-row
    * exploded index (the r14 probe's 6.6 s stage at sf10). Bucket
    * membership, salt splitting ([[Skew.saltOversized]]'s
    * `pmod(xxhash64(id, bk), ⌈s/max⌉)` — replicated with Spark's own
    * XXH64 and the same double-ceil), min-first orientation, the
    * prorated Hamming checkpoints and the downstream distinct are all
    * replayed exactly, so the emitted survivor set is bit-identical to
    * the (bucketKey, salt) pipeline's — pinned by the tier-parity spec
    * and the `dd_embed_neardup*` oracle rows. Refused (→ the existing
    * pipeline) when the directory size model exceeds the broadcast
    * budget (the 100 TB / low-threshold path — at the cos-0.45 sf10
    * witness geometry the directories alone are ~1.3 GB), when
    * `spark.graft.embed.scanTier=off`, when bits > 30, or when corpus
    * ids are not unique.
    */
  private def embedScanSurvivors(df: DataFrame, sig: DataFrame, n: Long,
      poolBits: Int, bits: Int, tabs: Int, maxBucketSize: Int,
      threshold: Double, maxBroadcastBytes: Long): Option[DataFrame] = {
    val spark = sig.sparkSession
    if (!spark.conf.get(EmbedScanTierKey, "auto").equalsIgnoreCase("auto"))
      return None
    if (bits > 30) return None
    val words = (poolBits + 63) >> 6
    if (graft.plans.EmbedIndexBank.estimateBytes(n, words, bits, tabs) >
      maxBroadcastBytes) return None
    val sc = spark.sparkContext
    val bankOpt = embedBanks(Banks.key("eb", sc.applicationId, Banks.frameKey(sig, df),
        poolBits, bits, tabs, maxBucketSize)) {
      // null sketches (null vectors) never enter the exploded index
      // (explode of a null array drops the row), so they are excluded
      // here too; null ids are already dropped at the scratch
      val rows = sig.select(col("id"), col("sk"))
        .filter(col("sk").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      Banks.whenUniqueIds(rows)(_._1)(sc.broadcast(graft.plans.EmbedIndexBank(
        rows, poolBits, bits, tabs, graft.plans.GraftFunctions.DefaultSeed, maxBucketSize)))
    }
    if (bankOpt.isEmpty) return None
    val bank = bankOpt.get
    import spark.implicits._
    val cps = hammingCheckpoints(poolBits, threshold)
    val par = sc.defaultParallelism
    // lanes interleave each table's bucket ordinals across ≥ 2·par
    // units; contiguous range partitions then hold a stride of TABLES
    // (u mod tables cycles), so every task mixes tables and lanes —
    // no per-table straggler
    val lanes = math.max(1L, math.ceil(par * 2.0 / tabs).toLong)
    val units = tabs.toLong * lanes
    val unitDs = spark.range(0, units, 1,
      math.min(par.toLong, units).toInt).as[Long]
    val mbs = maxBucketSize
    val wordsL = words
    // emits each checkpoint survivor once per bucket/salt-group
    // co-occurrence (the join pipeline's pre-distinct stream), pairs
    // ordered min-first by position (positions ascend with id)
    def scanUnit(b: graft.plans.EmbedIndexBank, u: Long,
        emit: (Int, Int) => Unit): Unit = {
      val nt = b.nTables
      val t = (u % nt).toInt
      val lane = (u / nt).toInt
      val laneCount = (units / nt).toInt
      val starts = b.tabStarts(t)
      val pos = b.tabPos(t)
      val sk = b.sk
      val bigOrd = b.tabBigOrd(t)
      val bigKey = b.tabBigKey(t)
      val nG = starts.length - 1
      var g = lane
      while (g < nG) {
        val s0 = starts(g)
        val e0 = starts(g + 1)
        val sz = e0 - s0
        if (sz <= mbs) {
          var i = s0
          while (i < e0) {
            val pi = pos(i)
            val xo = pi * wordsL
            var j = i + 1
            while (j < e0) {
              val pj = pos(j)
              if (graft.plans.HammingWithinCheckpoints.withinFlat(
                sk, xo, pj * wordsL, wordsL, cps)) emit(pi, pj)
              j += 1
            }
            i += 1
          }
        } else {
          // saltOversized replay: __key_n is the bucket's row count
          // (= sz — one exploded row per member per table), the salt
          // is pmod(xxhash64(id, bk), ceil(sz / maxPerKey)) with
          // Spark's seed-42 chain and double-division ceil
          val bi = java.util.Arrays.binarySearch(bigOrd, g)
          val bk = bigKey(bi)
          val m = math.ceil(sz.toDouble / mbs).toLong
          val salted = new Array[Long](sz)
          var i = 0
          while (i < sz) {
            val id = b.ids(pos(s0 + i))
            var h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashLong(id, 42L)
            h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(bk, h)
            val sm = h % m
            val salt = if (sm < 0) sm + m else sm
            // local index in the low 32 bits: the sort below is then
            // (salt asc, position asc), so min-first survives salting
            salted(i) = (salt << 32) | i.toLong
            i += 1
          }
          java.util.Arrays.sort(salted)
          var a = 0
          while (a < sz) {
            val sv = salted(a) >>> 32
            var e = a + 1
            while (e < sz && (salted(e) >>> 32) == sv) e += 1
            var i2 = a
            while (i2 < e) {
              val pi = pos(s0 + salted(i2).toInt)
              val xo = pi * wordsL
              var j2 = i2 + 1
              while (j2 < e) {
                val pj = pos(s0 + salted(j2).toInt)
                if (graft.plans.HammingWithinCheckpoints.withinFlat(
                  sk, xo, pj * wordsL, wordsL, cps)) emit(pi, pj)
                j2 += 1
              }
              i2 += 1
            }
            a = e
          }
        }
        g += laneCount
      }
    }
    // survivor-pair distinct mirrors the pipeline below: packed single
    // longs when every id fits 31 bits (known from the sorted bank for
    // free), two columns otherwise
    val bv = bank.value
    val packable = bv.minId >= 0 && bv.maxId < (1L << 31)
    val survivors =
      if (packable)
        unitDs.mapPartitions { us =>
          val b = bank.value
          us.flatMap { u =>
            val out = new scala.collection.mutable.ArrayBuilder.ofLong
            scanUnit(b, u, (pi, pj) => out += (b.ids(pi) << 32) | b.ids(pj))
            out.result().iterator
          }
        }.toDF("p").distinct()
          .select(shiftright(col("p"), 32).as("id_a"),
            col("p").bitwiseAND(0xffffffffL).as("id_b"))
      else
        unitDs.mapPartitions { us =>
          val b = bank.value
          us.flatMap { u =>
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            scanUnit(b, u, (pi, pj) => out += ((b.ids(pi), b.ids(pj))))
            out.iterator
          }
        }.toDF("id_a", "id_b").distinct()
    Some(survivors)
  }

  /** `nBits`/`nTables` ≤ 0 → auto from corpus size. The corpus is
    * count()ed unconditionally — the broadcast-vs-shuffle TIER decision
    * needs n even when the geometry is passed explicitly — so explicit
    * values skip only the parameter derivation, not the count.
    *
    * SUPPORTED-THRESHOLD ENVELOPE (see README "Scale design notes" for
    * the measured table): cosine ≥ ~0.7 is the near-linear regime
    * (ρ ≤ 0.5); lower thresholds are super-linear by LSH physics and
    * surface a [[RegimeAdvisory]] — or are refused under
    * `spark.graft.embed.regime=enforce` ([[RegimeModeKey]]).
    *
    * Plan shape — two tiers behind one recall contract:
    *  - ONE bit-pool sketch per vector ([[graft.plans.HyperplanePoolSketch]],
    *    poolBits projections, the only per-vector heavy math), stored as
    *    a column; bucket keys ([[graft.plans.PoolBucketKeys]]) and the
    *    Hamming prefilter both derive from it, so projections are paid
    *    exactly once;
    *  - the bucket self-join is ids-only — (bucketKey, id) rows;
    *    oversized buckets are salt-split, never dropped;
    *  - **broadcast tier** (corpus (id, sketch, vec) under
    *    `maxBroadcastBytes`): candidate pairs stream UNDEDUPED out of
    *    the bucket join into map-side broadcast-hash attaches of the two
    *    sketches, a popcount prefilter (the prorated
    *    [[hammingCheckpoints]] gate, final word = the 4σ
    *    [[hammingCutoff]]; combined per-pair miss ~4e-5 — r12) and only
    *    THEN a distinct + exact-cosine verify on the ~linear survivor
    *    set.
    *    No candidate-volume shuffle exists in this tier: the old
    *    distinct-then-join-vectors pipeline shuffled every collision
    *    (≈24% of ALL pairs at the thin-gap knee) three times, which —
    *    not the dot products — was the measured sf1 wall (227 s for
    *    20 k vectors, N^1.62 end to end);
    *  - **shuffle tier** (corpus over budget): the r5 shape — distinct
    *    candidates, then sketch-attach joins + Hamming prefilter before
    *    any float-vector work, so the wide rows (dim floats) are only
    *    shuffled for surviving pairs. This is the 1000-executor path: a
    *    100 TB corpus never broadcasts, and the prefilter cuts the
    *    widest shuffle by the orthogonal-collision factor.
    *
    * The blocked result is graded against the exact all-pairs SQL
    * oracle at sf0.01 (`dd_embed_neardup`), and a spec forces the
    * shuffle tier (`maxBroadcastBytes = 0`) to pin tier parity.
    */
  def embeddingNearDupPairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.45, nBits: Int = 0, nTables: Int = 0,
      maxBucketSize: Int = 100000, poolBits: Int = 2048,
      maxTables: Int = 4096, maxBroadcastBytes: Long = 256L << 20): DataFrame = {
    import graft.functions.VectorFunctions._
    import graft.plans.GraftFunctions.{hyperplanePoolSketch, poolBucketKeys}
    val n = CorpusStats.rowCount(df)
    val dim = if (n == 0) 0 else CorpusStats.vecDim(df, vecCol)
    // advisory by default; `spark.graft.embed.regime=enforce` turns the
    // super-linear-threshold warning into a hard reject (policy knob
    // for shared clusters — see RegimeModeKey)
    embedRegimeAdvisory(threshold, n,
      df.sparkSession.conf.get(RegimeModeKey, "advise"))
    // per-row broadcast payload: id + dim floats + sketch words + row overhead
    val rowBytes = 8L + 4L * dim + 8L * ((poolBits + 63) / 64) + 48L
    val broadcastTier = n > 0 && n * rowBytes <= maxBroadcastBytes
    val bits = if (nBits > 0) nBits
      else if (broadcastTier) embeddingLshParamsBroadcast(n, threshold, maxTables = maxTables)._1
      else embeddingLshParamsFor(n, threshold, maxTables = maxTables)._1
    // the explicit-nBits path caps tables too: a plausible "more bits =
    // more precision" call (e.g. nBits=20 at threshold 0.45 → p₁≈1.7e-4
    // → ~54k tables for the recall bound) would otherwise explode a
    // 54k-element bucket array per row; at the cap the recall bound is
    // whatever (bits, maxTables) yields, which the auto path never picks
    val tabs = if (nTables > 0) nTables
      else math.min(maxTables, embeddingLshTablesFor(bits, threshold))
    // shuffle tier co-partitions the scratch by id (persistScratchById)
    // so the merge-pinned sketch/vector attaches below are exchange- and
    // sort-free on the corpus side; the broadcast tier keeps the natural
    // layout — its attaches broadcast and a repartition would be a
    // wasted full shuffle of the vectors
    // null-id rows are dropped at the scratch: they can never emit a
    // pair in any tier (a null id fails the id_a < id_b orientation in
    // the join tiers), and downstream the broadcast tier reads ids as
    // primitive longs (bank keys, packed pairs) where a null would
    // alias to id 0 (r14 advice class)
    val raw = df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // KERNEL PARALLELISM (r15): the poolBits×dim projection kernel is
    // the dominant per-row cost, and a zero-exchange pipeline inherits
    // file-split parallelism (the r12 lesson) — measured at sf10, the
    // 51 MB embedding corpus bin-packed into 16 uneven splits and the
    // sketch stage ran 6.6 s vs 1.6 s after one round-robin exchange
    // of the raw (id, vec) rows. Both tiers therefore place their ONE
    // corpus exchange BEFORE the kernel: round-robin for the broadcast
    // tier (its attaches broadcast, so layout is otherwise free), the
    // id hash+sort the shuffle tier's merge-pinned attaches already
    // required (previously below the kernel, now above it — same
    // layout, kernel runs post-exchange at full parallelism).
    val laidOut =
      if (broadcastTier)
        raw.repartition(df.sparkSession.sparkContext.defaultParallelism)
      else raw.repartition(col("id")).sortWithinPartitions("id")
    val sig = persistScratch(laidOut.select(col("id"), col("vec"),
      normSq(col("vec")).as("nsq"),
      hyperplanePoolSketch(col("vec"), poolBits).as("sk")))
    // NOT persisted, although BOTH sides of the bucket self-join scan it
    // and neither static ReuseExchange nor AQE stage reuse deduplicates
    // them (probe-verified: FINAL_REUSED_STAGES=0 — the explode + salt
    // window pipeline executes twice). Measured r11: caching it is
    // neutral at sf4 (the duplicate map stages overlap across cores) and
    // LOSES 20% at sf10 (278→336 s — the n·tables-row cache, ~12 GB at
    // 200 k×2.4 k geometry, evicts/spills against the join's own memory
    // during the collision stages). The duplicate compute is the cheaper
    // side of the trade on both tiers.
    val exploded = Skew.saltOversized(
      sig.select(col("id"),
        explode(poolBucketKeys(col("sk"), poolBits, bits, tabs)).as("bk")),
      Seq("bk"), maxBucketSize, saltOn = col("id"))
    val survivors =
      if (broadcastTier) embedScanSurvivors(df, sig, n, poolBits, bits,
        tabs, maxBucketSize, threshold, maxBroadcastBytes).getOrElse {
        // bucket-LOCAL pairwise prefilter — the r11 rewrite of the bucket
        // self-join. The join shape computed the exploded index TWICE
        // (neither static ReuseExchange nor AQE stage reuse dedups the
        // two sides — probe-verified) and paid join machinery (row
        // assembly + two broadcast-hash probes) per collision on a
        // stream that is ~1.9 B rows at sf4's geometry. Here the
        // ids-only exploded frame is shuffled ONCE by (bucket, salt),
        // sorted within partitions so groups are contiguous, and a
        // per-partition loop resolves each group's sketches from a
        // broadcast id→sketch bank (n·sketch bytes — bounded by the
        // SAME maxBroadcastBytes budget that admitted this tier) and
        // emits only popcount survivors, with a free early-exit the
        // moment a pair's running Hamming crosses the cutoff. Pair
        // semantics are join-identical: per (bucket, salt) group every
        // unordered id pair once per co-occurrence, min-first, distinct
        // downstream. mapPartitions is justified here as genuine
        // per-partition imperative logic: the declarative alternative
        // IS the double-computed self-join this replaces (measured r11:
        // sf4 49 → 41 s, sf10 278 → 218 s isolated — the removed join
        // machinery and second index pass; the residual cost is the
        // collision popcount mass itself). NOTE (explain-path trade,
        // same as the IVF centroid bank): the id→sketch bank collects
        // at DataFrame-construction time, so building this plan runs
        // the sig job; bounded by the tier's own broadcast budget.
        val session = df.sparkSession
        import session.implicits._
        // Duplicate-id contract: the bank is keyed by id, so a corpus
        // with the same id on two DIFFERENT vectors cannot be
        // represented (the join tiers would fan out on the id attach
        // there too — the operator's id column is a key by contract).
        // True duplicate ROWS (same id, same vector → same sketch) are
        // tolerated: put() is idempotent for them and pair semantics
        // are unchanged. Checked here for free inside the collect loop;
        // conflicting ids fail fast instead of silently keeping the
        // last sketch. NOTE (driver sizing): this collect materializes
        // ~n·rowBytes on the driver — the same order as the
        // maxBroadcastBytes budget that admitted this tier — so a
        // caller raising maxBroadcastBytes past
        // spark.driver.maxResultSize (default 1g) trades the tier for
        // a collect-time SparkException; raise both together.
        var minId = Long.MaxValue
        var maxId = Long.MinValue
        val bank = {
          val m = new java.util.HashMap[Long, Array[Long]](math.max(16, n.toInt * 2))
          sig.select(col("id"), col("sk")).collect().foreach { r =>
            val id = r.getLong(0)
            val sk = r.getSeq[Long](1).toArray
            if (id < minId) minId = id
            if (id > maxId) maxId = id
            val prev = m.put(id, sk)
            require(prev == null || java.util.Arrays.equals(prev, sk),
              s"embeddingNearDupPairs: id $id appears with two different " +
                "vectors; the id column must be a key (dedupe ids first, " +
                "or force the shuffle tier with maxBroadcastBytes = 0)")
          }
          session.sparkContext.broadcast(m)
        }
        val cps = hammingCheckpoints(poolBits, threshold)
        // (bk, salt) packed into ONE long key: bk occupies
        // bits + ⌈log₂ tables⌉ bits by PoolBucketKeys' layout (auto
        // geometry: ≤ 20 + 12 = 32) and salt < ⌈n/maxBucketSize⌉, so
        // (bk << 24) | salt is collision-free whenever bk ≤ 40 bits and
        // the salt bound fits 24 bits — GUARDED below: caller-supplied
        // nBits > 28 or a tiny maxBucketSize on a huge admitted corpus
        // would otherwise silently merge unrelated bucket groups
        // (output still exact via the cosine verify, but candidate
        // volume and skew blow up with no diagnostic — r12 ADVICE).
        // Out-of-range geometry keeps the two-column (bk, __salt) key.
        // Measured r12: the packed key is wall-NEUTRAL at sf10 (the
        // 65 s stage is exchange serialize/deserialize-bound, not
        // sort-compare-bound — a single-column radix-eligible key
        // didn't move it); kept because it shuffles one long less per
        // row and halves the group-boundary compare.
        // `spark.graft.embed.packedKey=off` forces the two-column path
        // at ANY geometry — the parity spec uses it to pin the fallback
        // bit-for-bit against the packed path on identical blocking
        val keyPackable = packedKeyFits(bits, tabs, n, maxBucketSize) &&
          !df.sparkSession.conf.get("spark.graft.embed.packedKey", "auto")
            .equalsIgnoreCase("off")
        val sorted =
          if (keyPackable)
            exploded.select(
                shiftleft(col("bk"), 24).bitwiseOR(col("__salt")).as("pk"),
                col("id"))
              .repartition(col("pk"))
              .sortWithinPartitions("pk")
              .as[(Long, Long)]
          else
            // two-column fallback: shuffle + sort on the exact (bk,
            // __salt) pair, then rewrite it to a PARTITION-LOCAL group
            // ordinal so the downstream contiguous-group loop keeps its
            // one-long key shape. The ordinal is injective per
            // partition by construction (sorted input, bump on any
            // boundary) — unlike a hash of the pair, which could
            // collide and merge unrelated groups, the exact silent
            // failure this guard exists to prevent.
            exploded.select(col("bk"), col("__salt"), col("id"))
              .repartition(col("bk"), col("__salt"))
              .sortWithinPartitions("bk", "__salt")
              .as[(Long, Long, Long)]
              .mapPartitions { rows =>
                var ordinal = -1L
                var lastBk = Long.MinValue; var lastSalt = Long.MinValue
                rows.map { case (bk, salt, id) =>
                  if (bk != lastBk || salt != lastSalt) {
                    ordinal += 1; lastBk = bk; lastSalt = salt
                  }
                  (ordinal, id)
                }
              }
        // survivor-pair DISTINCT is the operator's biggest sf10 stage
        // (81.5 of 195 s probed r12: 615 M survivor emissions — avg
        // table-multiplicity ~5 — deduped to 120 M). When every id fits
        // in 31 bits (known for free from the bank collect), pairs are
        // emitted PACKED into one long — the exchange + hash-agg then
        // move and compare half the key bytes. Out-of-range ids keep
        // the two-column shape; both shapes feed the identical verify.
        val packable = minId >= 0 && maxId < (1L << 31)
        def groupPairs(rows: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
          val b = bank.value
          val it = rows.buffered
          def nextGroup(): Iterator[(Long, Long)] = {
            if (!it.hasNext) return null
            val head = it.head
            val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
            while (it.hasNext && it.head._1 == head._1)
              ids += it.next()._2
            if (ids.length < 2) return Iterator.empty
            val arr = ids.toArray
            val sks = arr.map(b.get)
            // prorated sequential reject ([[hammingCheckpoints]]): the
            // same per-word 5σ checkpoints the shuffle tier filters
            // with, so the tiers' candidate sets are identical; kills
            // the bulk non-qualifying mass after ~4 of 32 words
            for {
              i <- (0 until arr.length).iterator
              j <- (i + 1 until arr.length).iterator
              if arr(i) != arr(j) &&
                graft.plans.HammingWithinCheckpoints.within(sks(i), sks(j), cps)
            } yield if (arr(i) < arr(j)) (arr(i), arr(j)) else (arr(j), arr(i))
          }
          Iterator.continually(nextGroup()).takeWhile(_ != null).flatten
        }
        if (packable)
          sorted.mapPartitions(rows =>
              groupPairs(rows).map { case (a, bb) => (a << 32) | bb })
            .toDF("p").distinct()
            .select(shiftright(col("p"), 32).as("id_a"),
              col("p").bitwiseAND(0xffffffffL).as("id_b"))
        else
          sorted.mapPartitions(groupPairs)
            .toDF("id_a", "id_b").distinct()
      } else {
        // over-budget corpora: the r5 self-join shape. The bucket
        // self-join must stay a shuffle join: its sides are n·tables
        // ids-only rows that compress ~50× in shuffle files, so AQE's
        // runtime re-plan (which thresholds on compressed shuffle
        // bytes) happily converts it to broadcast — and the
        // DESERIALIZED hash relation is n·tables·~550 B (measured
        // 12.9 GiB at 80 k vectors × 305 tables, over Spark's 8 GiB
        // broadcast hard limit; on a cluster it would be an executor
        // OOM instead). The merge hint pins that intent through AQE.
        val a = exploded.select(col("bk"), col("__salt"), col("id").as("id_a"))
        val b = exploded.select(col("bk"), col("__salt"), col("id").as("id_b"))
        val cand = a.join(b.hint("merge"), Seq("bk", "__salt"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
        val skA = sig.select(col("id").as("id_a"), col("sk").as("sk_a"))
        val skB = sig.select(col("id").as("id_b"), col("sk").as("sk_b"))
        // dedup collisions first (ids-only rows), then shuffle-attach
        // the narrow sketches and prefilter before any dim-float row is
        // shuffled. merge-pinned: this tier exists BECAUSE the corpus
        // exceeds the broadcast budget, so an AQE broadcast of the
        // attach side (possible while the persisted frame's
        // pre-materialization estimate is tiny — the r9 sf10
        // driver-collect cliff in the shingle family) must be forbidden
        // by plan shape, not by statistics.
        cand.distinct()
          .join(skA.hint("merge"), Seq("id_a")).join(skB.hint("merge"), Seq("id_b"))
          // same prorated checkpoint gate as the broadcast tier's loop
          // (last checkpoint == the 4σ hammingCutoff) — candidate sets
          // stay tier-identical and the popcount early-exits here too
          .filter(graft.plans.GraftFunctions.hammingWithinCheckpoints(
            col("sk_a"), col("sk_b"), hammingCheckpoints(poolBits, threshold)))
          .select(col("id_a"), col("id_b"))
      }
    val vecA = sig.select(col("id").as("id_a"), col("vec").as("vec_a"),
      col("nsq").as("nsq_a"))
    val vecB = sig.select(col("id").as("id_b"), col("vec").as("vec_b"),
      col("nsq").as("nsq_b"))
    survivors
      .join(if (broadcastTier) broadcast(vecA) else vecA.hint("merge"), Seq("id_a"))
      .join(if (broadcastTier) broadcast(vecB) else vecB.hint("merge"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineFromParts(dot(col("vec_a"), col("vec_b")),
          col("nsq_a"), col("nsq_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
