package graft.operators

import graft.{Q, Tables => T}
import graft.functions.TextVec._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointLifecycle

/** Deduplication pack (SURVEY.md §2.3) over the `documents` /
  * `embeddings` tables.
  *
  * Scale posture: every candidate-generation step is a keyed shuffle
  * (hash / LSH band / simhash chunk / label block) — never an unblocked
  * cross join — and NO corpus-sized relation is ever broadcast: the
  * verification and label-propagation joins are plain equi-joins, so
  * Catalyst/AQE picks broadcast only when a side is genuinely small and
  * falls back to shuffle joins at corpus scale. At 100 TB the bucket-join
  * pattern keeps pair enumeration proportional to Σ bucket², which LSH
  * keeps near-linear.
  */
object Dedup {

  /** Exact dedup: normalize → md5 → groupBy, keep lowest doc_id.
    * One shuffle on the text hash; at scale group counts are heavily
    * map-side combined (partial min/count before the exchange).
    */
  private def exact(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .groupBy(md5(normText(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Windows of this many tokens define the duplicate-substring unit in
    * [[dupSpans]] (the "min dup length" knob of suffix-based dedup). */
  private[graft] val DupSpanL = 8

  /** PPJoin posting-list chunk size ([[setsimPairs]]'s `maxPost`). */
  private val MaxPostings = 1024
  /** Most ids one retire may carry (they become a metadata predicate). */
  private[operators] val RetireMaxIds = 100000

  /** Duplicate-SUBSTRING spans — the within-document repeat detector of
    * suffix-array training-data dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"), re-expressed
    * Spark-first: the maximal token intervals of a document in which
    * EVERY token is covered by at least one L-token window
    * (L = [[DupSpanL]]) that occurs ≥ 2 times ANYWHERE in the corpus —
    * copied passages, boilerplate headers, exact repeats — reported as
    * [span_start, span_end] 0-based token positions. (Cover semantics:
    * duplicated-window hits with a positional gap of 1 < gap ≤ L still
    * merge into one span, so a span may contain a few non-duplicated
    * windows STARTING inside it; what is guaranteed is that every
    * TOKEN of the span lies inside some duplicated window. This is the
    * interval union a span-scrubber needs.) A suffix array is a
    * single-node construction; the distributed equivalent lowers the
    * corpus to one narrow row per L-gram keyed by a 128-bit content
    * hash: a count aggregation finds duplicated grams (map-side
    * partial counts absorb hot boilerplate keys before the exchange),
    * one equi-join marks their positions, and a per-doc window merges
    * overlapping windows into maximal spans (gaps-and-islands; window
    * ends are monotone in `pos` for fixed L, so the lag test alone is
    * exact). Two keyed shuffles of (hash, doc, pos) rows total — at
    * 100 TB the gram relation is O(total tokens) but ≤ ~32 bytes/row,
    * the duplicated-hash join side arrives pre-aggregated to one row
    * per distinct hash, and AQE skew-split covers a pathological
    * single gram.
    *
    * GRAM KEY (`spark.graft.dupspans.hash`) — the key never leaves the
    * query (the OUTPUT is token spans, identical under any
    * collision-free key; the oracle gate re-proves span equality every
    * round), so the choice is cost vs cross-engine portability:
    *  - `xx128` (DEFAULT): a struct of TWO independent-seed xxhash64
    *    longs — 16 bytes, no hex-string materialization, no md5 cost.
    *    128-bit birthday bound keeps a cross-gram collision (which
    *    would manufacture a false duplicate span, silently) negligible
    *    even at ~10^13 grams, i.e. a full 100 TB text corpus.
    *  - `md5`: the engine-portable BINARY(16) key (DuckDB's
    *    unhex(md5(...)) replays it bit-for-bit) for cross-engine
    *    debugging of the intermediate gram relation.
    * Any other value throws (a typo must not silently pick a key).
    */
  private[graft] def dupSpans(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = DupSpanL
    val gramKey: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      s.conf.getOption("spark.graft.dupspans.hash").getOrElse("xx128") match {
        case "xx128" => txt =>
          // second leg reseeds by prepending a constant to the hash
          // stream — an independent 64-bit family member, so the pair
          // is a true 128-bit key (two equal halves never co-collide)
          struct(xxhash64(txt), xxhash64(lit("graft:dupspans:g2"), txt))
        case "md5" => txt => unhex(md5(txt))
        case other => throw new IllegalArgumentException(
          s"spark.graft.dupspans.hash=$other — expected xx128 (default) " +
            "or md5")
      }
    val toks = T.documents(s, d)
      .select(col("doc_id"), split(trim(lower(col("text"))), " ").as("toks"))
      .filter(size(col("toks")) >= L)
    // pos = 0-based start of each L-token window; g = hash of its text.
    // The gram TEXT is a generator output column and the key derives
    // from that attribute — a multi-leg key (xx128's two hashes) reads
    // the concat ONCE instead of re-evaluating it per leg
    val grams = toks.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), size(col("toks")) - L),
        i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(L)))))
        .as(Seq("pos", "gt")))
      .select(col("doc_id"), col("pos"), gramKey(col("gt")).as("g"))
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("g"))
    val hits = grams.join(dup, "g").select(col("doc_id"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("ni", when(lag(col("pos"), 1).over(w).isNull ||
        col("pos") - lag(col("pos"), 1).over(w) > L, 1).otherwise(0))
      .withColumn("isl", sum(col("ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + L - 1).cast("long").as("span_end"),
        (max(col("pos")) + L - min(col("pos"))).cast("long").as("dup_tokens"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("dup_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** MinHash + LSH near-dup pairs: 64-perm signature, 8 bands × 8 rows
    * (catches Jaccard ≳ 0.77 w.h.p.), candidates blocked by (band,
    * band-hash), then exact word-set Jaccard ≥ 0.9. No metadata blocking
    * key: in this corpus the `lang` label is uncorrelated with content, and
    * blocking on it was measured to split true near-dup pairs (recall spec
    * in LlmOpsSpec). This synthetic corpus is pathologically self-similar
    * (shared ~50-word vocabulary), so thresholds sit high to keep pair
    * output bounded.
    */
  private[graft] def minhashLsh(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // docs (word sets + signatures) feeds the band self-join AND both
    // verification sides — materialize it ONCE (eager localCheckpoint:
    // lineage-truncated, storage freed on GC, so repeated calls never
    // trip "already cached" re-registration). The expensive part (64
    // perm-hashes per word) runs exactly once per doc.
    //
    // Verification is two plain equi-joins of the skinny distinct
    // (id_a, id_b) pair list against the doc→word-set dictionary: the
    // dictionary is corpus-sized, so it is NOT broadcast-hinted — AQE
    // broadcasts it only while it is actually small and otherwise both
    // joins are keyed shuffles of the (tiny) pair list + dictionary,
    // the shape that survives a 5-billion-doc corpus.
    // Measured alternative (sf0.1, 10.1M raw candidates): first-match band
    // emission instead of pair-distinct is 3× SLOWER here — it widens
    // every raw candidate with both word-set arrays before filtering,
    // while distinct shuffles only skinny (id,id) pairs. Keep
    // distinct-then-verify.
    // EXPLICIT-width repartitions at the explosion points. AQE sizes
    // partitions by BYTES (the doc table is tiny), so it coalesces the
    // band shuffle to ~1 partition — and then the self-join's 10M-pair
    // output and the per-pair Jaccard kernel run on ONE core. Pinning
    // the width (explicit numPartitions is never overridden by AQE)
    // keeps the CPU-heavy stages wide; at corpus scale the same shape
    // holds, with width = cluster parallelism.
    val par = s.sparkContext.defaultParallelism
    val docs = T.documents(s, d)
      .select(col("doc_id"), wordSet(col("text")).as("ws"))
      .repartition(par, col("doc_id"))
      .withColumn("sig",
        graft.functions.HashExpressions.minHashSignatureNative(col("ws"), k = 64))
      .localCheckpoint()
    // Measured alternative (sf0.1): a sketch-verify prefilter (join sigs,
    // keep pairs with >= 51/64 agreeing minhash components, then exact-
    // verify survivors — HashKernels.sigAgree) is NET NEGATIVE on this
    // corpus: it keeps 71% of the 4.1M candidates (~1M pairs genuinely
    // have J >= 0.9 here), so it doubles the pair-join volume to save a
    // kernel that costs 1.8s total. Profiled stage times: sig build 5.6s
    // (first-job warmup dominated), distinct 3.5s, exact verify ALL
    // pairs 1.8s, prefilter path 7.5s. On a corpus where near-dups are
    // rare (the usual case), the prefilter wins — it stays available as
    // HashExpressions.sigAgreeNative.
    verifyPairs(s, docs, lshCandidates(s, docs).distinct(), 0.9)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Raw LSH band-collision candidates over a (doc_id, …, sig) corpus —
    * NOT distinct (a pair surfaces once per colliding band). Both sides
    * of the band self-join are the same shuffled subtree, so the band
    * exchange is planned once and reused (ReusedExchange).
    */
  private[graft] def lshCandidates(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val bands = docs
      .select(col("doc_id"),
        posexplode(lshBandsExpr("sig", bands = 8, rowsPerBand = 8)))
      .toDF("doc_id", "band", "bh")
      .repartition(par, col("band"), col("bh"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  /** Exact set-Jaccard verification of a skinny pair list against the
    * (doc_id, ws) dictionary: two keyed equi-joins (never broadcast-
    * hinted — AQE broadcasts only while the dictionary is genuinely
    * small; the shape survives a 5-billion-doc corpus), one codegen'd
    * kernel per pair, J ≥ t filter. Extra columns riding on `pairs`
    * (e.g. source tags) pass through untouched.
    */
  private[graft] def verifyPairs(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, pairs: DataFrame, t: Double): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    val w = docs.select(col("doc_id"), col("ws"))
    pairs
      .repartition(par, col("id_a")) // pairs are skinny; the Jaccard kernel is not
      .join(w.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(w.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .withColumn("jaccard",
        round(graft.functions.HashExpressions.setJaccardNative(
          col("ws_a"), col("ws_b")), 6))
      .filter(col("jaccard") >= t)
      // using-joins reorder columns (key first) — restore the caller's
      .select(pairs.columns.map(col) :+ col("jaccard"): _*)
  }

  /** SimHash near-dups: 64-bit fingerprint, 4×16-bit chunk blocking
    * (pigeonhole guarantees full recall for hamming ≤ 3; sparse 65k-value
    * buckets keep the candidate join near-linear at scale), exact hamming
    * ≤ 6 filter. The fingerprint votes over the PORTABLE md5 word hash
    * ([[graft.functions.HashKernels.md5Word64]]) so the whole query —
    * fingerprint, blocking, hamming — is DuckDB-oracle-checked; the
    * xxhash64 variant stays SQL-exposed as `graft_simhash64`.
    */
  private def simhash(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // fp is a skinny (doc_id, fp) table feeding BOTH sides of the
    // self-join — materialize so the |words|×64 vote aggregate runs once
    // per doc, not once per side (localCheckpoint: freed on GC).
    val docs = T.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("ws"))
      .repartition(col("doc_id")) // spread the |words|×64 vote kernel (see minhashLsh)
      .withColumn("fp", graft.functions.HashExpressions.simHash64Md5Native(col("ws")))
      .select(col("doc_id"), col("fp"))
      .localCheckpoint()
    val chunks = docs.select(
      col("doc_id"), col("fp"),
      posexplode(expr("transform(sequence(0, 3), c -> shiftright(fp, c * 16) & 65535)")))
      .toDF("doc_id", "fp", "chunk", "cv")
    val pairs = chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .distinct()
    pairs.filter(col("hamming") <= 6).orderBy(col("id_a"), col("id_b"))
  }

  /** Exact word-set n-gram Jaccard on a deterministic pair set
    * (consecutive doc ids) — DuckDB-oracle-checked.
    */
  private def ngramJaccard(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).select(col("doc_id"), wordSet(col("text")).as("ws"))
    docs.as("a")
      .join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("id_a"),
        col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(array_union(col("a.ws"), col("b.ws"))).cast("double")).as("jaccard"))
      .orderBy(col("id_a"))
  }

  /** EXACT all-pairs set-similarity join via prefix filtering (the
    * PPJoin family — Vernica/Carey/Li's VLDB'10 MapReduce formulation):
    * every pair of documents with word-set Jaccard ≥ t, FULL recall, no
    * sketch — the exact counterpart to [[minhashLsh]]'s approximate
    * candidates.
    *
    * Why this scales where the naive all-pairs join cannot: tokens are
    * globally ordered by document frequency (rarest first), and each doc
    * exposes only its first `|s| - ceil(t·|s|) + 1` tokens in that order
    * as its PREFIX. Two sets with Jaccard ≥ t must share a prefix token
    * (pigeonhole on the overlap bound), so the candidate join keys on
    * prefix tokens only — and prefixes hold each doc's RAREST tokens, so
    * bucket sizes stay small precisely where a frequency-skewed
    * vocabulary would blow up a token-keyed join (stopwords sort LAST in
    * the global order and never enter short prefixes). A doc's prefix
    * emission is ~(1-t)·|s| rows — the index stays linear in corpus
    * size. Candidate pruning: size filter t·|a| ≤ |b| (J ≥ t forces
    * min ≥ t·max), then one exact verify join of the skinny distinct
    * pair list against the word-set dictionary (never broadcast-hinted —
    * same shuffle shape as minhashLsh verification).
    */
  private def setsimJoin(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d)
      .select(col("doc_id"), wordSet(col("text")).as("ws"))
    setsimPairs(s, docs, 0.9, MaxPostings)
  }

  /** The exact prefix-filter join over an arbitrary (doc_id, ws) corpus —
    * factored out so specs can drive it on synthetic (skewed) corpora
    * with a forced `maxPost`.
    *
    * `maxPost` caps the per-reducer work of the candidate join: any
    * prefix token whose posting list exceeds it is GRID-SALTED. The
    * list's docs are hash-assigned to `nch = ceil(cnt/maxPost)` chunks,
    * and each side replicates each row once per partner chunk, keyed by
    * the ordered chunk pair — cell (i, j) joins chunk i against chunk j
    * on its own reducer, so a single hot token (dense vocabularies make
    * them inevitable) spreads over nch² reducers of ≤ maxPost² cheap
    * codegen'd comparisons instead of serializing one. Each pair is
    * produced by EXACTLY one cell (the (q_a, q_b) one) so the transform
    * is exactness-preserving, and cold tokens (nch = 1) degenerate to
    * the unsalted join with zero replication.
    */
  private[graft] def setsimPairs(s: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, t: Double, maxPost: Int): DataFrame = {
    // DENSE-VOCABULARY fast path: when the corpus vocabulary fits in 64
    // tokens, prefix filtering is structurally useless (a 31-token
    // vocabulary yields 3.3M candidates for 9k true pairs — every doc
    // shares prefix tokens with a quarter of the corpus) while the whole
    // problem collapses to POPCOUNT ARITHMETIC: each word set is one
    // Long bitmask, Jaccard = bit_count(a&b)/bit_count(a|b) — exactly
    // the |∩|/|∪| integers of the array kernel, so the rounded double is
    // bit-identical. Dedup to distinct masks first (M ≤ N), one
    // broadcast M×M popcount pass, then expand mask pairs back to doc
    // pairs with skinny mask-keyed joins. The probe costs one tiny
    // distinct; corpora past 64 tokens (any real text) fall through to
    // the PPJoin path untouched.
    val vocabMax = graft.GraftConf.int(s,
      "spark.graft.setsim.bitmaskVocabMax", 64, min = 0)
    if (vocabMax > 0) {
      val probe = corpus.select(explode(col("ws")).as("tok"))
        .distinct().limit(math.min(vocabMax, 64) + 1)
        .collect().map(_.getString(0))
      if (probe.length <= math.min(vocabMax, 64))
        bitmaskPairs(s, corpus, probe.sorted.toIndexedSeq, t) match {
          case Some(pairs) => return pairs.orderBy(col("id_a"), col("id_b"))
          case None => () // over the distinct-mask cap: PPJoin below
        }
    }
    val par = s.sparkContext.defaultParallelism
    val docs = corpus
      .repartition(par, col("doc_id"))
      .withColumn("sz", size(col("ws")))
      .localCheckpoint() // feeds tokenization AND both verify sides once
    verifyPairs(s, docs, ppCandidates(s, docs, t, maxPost).distinct(), t)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Exact set-similarity over a ≤64-token vocabulary: word sets become
    * Long bitmasks (token → its power-of-two bit, via a codegen'd
    * literal map — no join, no shuffle to encode), the M DISTINCT masks
    * pair up in one broadcast nested-loop popcount pass (M ≤ N docs;
    * every comparison is two AND/OR + two bit_counts in whole-stage
    * codegen), and surviving mask pairs expand back to doc pairs through
    * skinny mask-keyed equi-joins — array-free, so a million-duplicate
    * mask never materializes as one row. Identical-mask doc pairs
    * (Jaccard exactly 1) come from a mask-keyed self-join. Exactness:
    * bit_count(a&b) and bit_count(a|b) are the same integers as
    * |ws_a ∩ ws_b| and |ws_a ∪ ws_b|, so round(÷, 6) is bit-identical
    * to [[verifyPairs]]'s kernel and the DuckDB oracle ([[LlmOpsSpec]]
    * holds the fast path equal to the PPJoin path on random corpora).
    * The empty set (mask 0) shares no token with anything and is
    * excluded from both branches, matching the prefix join (an empty
    * doc emits no prefix tokens, hence no candidates).
    */
  private[graft] def bitmaskPairs(s: org.apache.spark.sql.SparkSession,
      corpus: DataFrame, toks: Seq[String], t: Double): Option[DataFrame] = {
    require(toks.size <= 64, s"bitmask path needs ≤64 tokens, got ${toks.size}")
    val bitOf = map(toks.zipWithIndex.flatMap { case (w, i) =>
      Seq(lit(w), lit(1L << i)) }: _*)
    val masked = corpus.select(col("doc_id"),
      aggregate(col("ws"), lit(0L),
        (acc, w) => acc.bitwiseOR(element_at(bitOf, w))).as("mask"))
      .localCheckpoint() // skinny (doc_id, mask); feeds 4 plan legs
    // checkpointed for the guard + both joins; the guard count rides
    // the checkpoint job itself (observe), nothing is recomputed
    val (gm, Row(nMasks: Long)) = CheckpointLifecycle.observedCheckpoint(
      masked.select(col("mask")).where(col("mask") =!= 0L).distinct(),
      count(lit(1)))
    // guard the M×M popcount pass: past maxMasks distinct masks the
    // size-bucketed join's pair volume (M × ~2·(1-t)/t·M/|sizes|) stops
    // being a broadcast-cheap pass — fall back to the PPJoin path,
    // which is corpus-size-linear in its index.
    val maxMasks =
      graft.GraftConf.int(s, "spark.graft.setsim.bitmaskMasksMax", 1 << 17)
    if (nMasks > maxMasks) return None // caller takes the PPJoin path
    // Pair enumeration as a broadcast HASH join, not a nested loop: a
    // bare `mask_a < mask_b` theta-join plans as BroadcastNestedLoopJoin
    // — interpreted, non-codegen, O(M²) row-pair evaluations. Keying on
    // POPCOUNT SIZE makes it an equi-join: J ≥ t forces
    // t·max(|a|,|b|) ≤ min(|a|,|b|), so side b replicates once per
    // compatible partner size (⌈t·|b|⌉ … ⌊|b|/t⌋, ~±10% at t=0.9) and
    // side a probes with its own size — whole-stage codegen, and the
    // hash lookup skips every size-incompatible mask outright. Each
    // unordered pair still surfaces exactly once (b's explode emits one
    // row per sza value, and a's size is fixed).
    val sized = gm.withColumn("sz", bit_count(col("mask")))
    val bSide = sized
      .select(col("mask").as("mask_b"),
        explode(sequence(
          ceil(lit(t) * col("sz")).cast("int"),
          floor(col("sz") / lit(t)).cast("int"))).as("sz"))
    val maskPairs = sized.select(col("mask").as("mask_a"), col("sz"))
      .join(broadcast(bSide), Seq("sz"))
      .filter(col("mask_a") < col("mask_b"))
      .withColumn("jaccard", round(
        bit_count(col("mask_a").bitwiseAND(col("mask_b"))).cast("double") /
          bit_count(col("mask_a").bitwiseOR(col("mask_b"))), 6))
      .filter(col("jaccard") >= t)
      .drop("sz")
    val cross = masked.withColumnRenamed("doc_id", "id_x")
      .join(broadcast(maskPairs), col("mask") === col("mask_a"))
      .select(col("id_x"), col("mask_b"), col("jaccard"))
      .join(masked.withColumnRenamed("doc_id", "id_y"),
        col("mask_b") === col("mask"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"), col("jaccard"))
    if (t > 1.0) return Some(cross) // identical sets (J = 1) can't reach t
    // identical-mask pairs, GRID-SALTED on the mask key (the
    // embedCosinePairs contract): exact-duplicate clusters are the
    // NORM in a dedup corpus, and a million-row duplicate cluster
    // would otherwise emit its (quadratic, inherent) output through
    // ONE reducer — chunking spreads it over nch² cells of bounded
    // work, exactness-preserving (each pair from exactly one cell)
    val maxGroup = graft.GraftConf.int(s, "spark.graft.setsim.maxGroup", 1024)
    val counts = masked.where(col("mask") =!= 0L)
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
    val chunked = masked.join(counts, "mask")
      .withColumn("nch", ceil(col("cnt") / maxGroup).cast("int"))
      .withColumn("q", pmod(xxhash64(col("doc_id")), col("nch")).cast("int"))
    def saltedM = chunked.withColumn("cell",
      explode(sequence(lit(0), col("nch") - 1)))
    val within = saltedM.as("x")
      .join(saltedM.as("y"),
        col("x.mask") === col("y.mask") &&
          col("x.cell") === col("y.q") &&
          col("y.cell") === col("x.q") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        lit(1.0).as("jaccard"))
    Some(cross.union(within))
  }

  /** Raw prefix-filter (PPJoin) candidates over a (doc_id, ws, sz)
    * corpus — NOT distinct (a pair surfaces once per shared prefix token
    * that survives the positional filter). See [[setsimPairs]] for the
    * salting contract.
    */
  private[graft] def ppCandidates(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, t: Double, maxPost: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = s.sparkContext.defaultParallelism
    val tok = docs.select(col("doc_id"), col("sz"), explode(col("ws")).as("tok"))
    // global document-frequency order; ties broken lexically so the
    // order (hence the prefix) is deterministic across runs/engines
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefix = tok
      .join(dfreq, "tok") // keyed shuffle; AQE may broadcast small vocab
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("tok"), col("doc_id"), col("sz"), col("rn"))
      .repartition(par, col("tok"))
    // chunk assignment: posting-list length -> chunk count; doc -> chunk
    // by hash (deterministic, no per-token sort). counts is |prefix
    // vocab| rows — broadcast by AQE.
    val counts = prefix.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val chunked = prefix.join(counts, "tok")
      .withColumn("nch", ceil(col("cnt") / maxPost).cast("int"))
      .withColumn("q", pmod(xxhash64(col("doc_id")), col("nch")).cast("int"))
      .select(col("tok"), col("doc_id"), col("sz"), col("rn"), col("nch"), col("q"))
    // each side replicated once per partner chunk (nch copies; 1 for
    // cold tokens). cell identity = (a.q, b.q) via the cross conditions.
    def salted = chunked.withColumn("cell",
      explode(sequence(lit(0), col("nch") - 1)))
    salted.as("a")
      .join(salted.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.cell") === col("b.q") && // a's copy aimed at b's chunk
          col("b.cell") === col("a.q") && // b's copy aimed at a's chunk
          col("a.doc_id") < col("b.doc_id") &&
          // J ≥ t ⟹ t·max(|a|,|b|) ≤ min(|a|,|b|)
          lit(t) * greatest(col("a.sz"), col("b.sz")) <=
            least(col("a.sz"), col("b.sz")) &&
          // PPJoin positional filter: a token matched at ranks (ra, rb)
          // caps the achievable overlap at 1 + min(sa-ra, sb-rb), which
          // must reach the J ≥ t overlap requirement
          // ceil(t/(1+t)·(sa+sb)). Recall-safe: for a true pair the
          // FIRST shared token (provably inside both prefixes) always
          // passes; later shared tokens may be pruned, which only
          // thins duplicate emissions of the same pair.
          lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) >=
            ceil(lit(t) / (1 + t) * (col("a.sz") + col("b.sz"))))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
  }

  /** Embedding-cosine near-dup pairs, blocked by `label` (the blocking key a
    * real pipeline gets from a coarse clusterer), threshold 0.35 —
    * DuckDB-oracle-checked (list_cosine via double-widened lists).
    */
  private def embedCosine(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    // Norms precomputed per vector BEFORE the pair join: one codegen'd dot
    // per pair instead of three HOF folds (same fold order -> identical
    // doubles -> oracle-safe).
    val e = T.embeddings(s, d)
      .select(col("vec_id"), col("label"), toDoubleVec(col("embedding")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    embedCosinePairs(e, 0.35, maxGroup = 1024)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The label-blocked within-group pair join over an arbitrary
    * (vec_id, label, v, nrm) corpus — factored out so specs can drive
    * it on skewed label distributions with a forced `maxGroup`.
    *
    * `maxGroup` caps the per-reducer work with [[setsimPairs]]'s
    * GRID-SALTING contract applied to the label key: a label whose
    * group exceeds it is hash-split into `nch = ceil(cnt/maxGroup)`
    * chunks, each side replicates each row once per partner chunk
    * keyed by the ordered chunk pair, and cell (i, j) joins chunk i
    * against chunk j on its own reducer — one hot label (real
    * clusterers produce them) spreads over nch² reducers of ≤
    * maxGroup² dot products instead of serializing |label|²/2 onto
    * one. Each pair is produced by EXACTLY one cell (the (q_a, q_b)
    * one), so the transform is exactness-preserving; cold labels
    * (nch = 1) degenerate to the unsalted join with zero replication.
    * The `counts` side is |labels| rows — AQE broadcasts it.
    */
  private[graft] def embedCosinePairs(e: DataFrame, thresh: Double,
      maxGroup: Int): DataFrame = {
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
    val chunked = e.join(counts, "label")
      .withColumn("nch", ceil(col("cnt") / maxGroup).cast("int"))
      .withColumn("q", pmod(xxhash64(col("vec_id")), col("nch")).cast("int"))
    def salted = chunked.withColumn("cell",
      explode(sequence(lit(0), col("nch") - 1)))
    salted.as("a")
      .join(salted.as("b"),
        col("a.label") === col("b.label") &&
          col("a.cell") === col("b.q") && // a's copy aimed at b's chunk
          col("b.cell") === col("a.q") && // b's copy aimed at a's chunk
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= thresh)
  }

  /** Connected components over an arbitrary undirected pair graph:
    * iterative min-label propagation + pointer jumping (the
    * alternating-star family — O(log n) rounds on 100 TB graphs), each
    * round one grouped aggregation over the edge list. Returns one row
    * per vertex: (doc_id, label) where label = the component's minimum
    * doc_id.
    *
    * Scale posture (this replaced per-round `broadcast(labels)` /
    * `broadcast(parent)` — |V|-sized relations that OOM at corpus scale):
    *  - the symmetrized edge list is hash-partitioned by `dst` ONCE and
    *    localCheckpoint'ed; every round's neighbor-min join reuses that
    *    layout, so |E| never re-shuffles — only the skinny |V| label
    *    table moves per round.
    *  - all joins are plain equi-joins: AQE broadcasts the label table
    *    only while it is genuinely under the threshold, otherwise they
    *    are shuffle joins co-partitioned with the cached edges.
    *  - localCheckpoint each round truncates lineage (without it the
    *    plan nests per iteration and planning blows up) and frees the
    *    previous round's blocks on GC.
    */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("id_a", "id_b")
    val sym = edges
      .union(edges.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = vertices.toDF("doc_id")
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    // each round supersedes the previous round's two checkpoints — free
    // their blocks eagerly (20 rounds × 2 × |V| would otherwise sit in
    // the block manager until GC; lineage is truncated so GC is the
    // ONLY other way they die)
    var prevRound: DataFrame = labels
    var changed = 1L
    var rounds = 0
    // with per-round pointer jumping (depth halves), maxRounds=20 covers
    // graph diameters to ~2^20 — any real dedup graph. Configurable so a
    // pathological chain can raise it; exit-with-changes REFUSES below
    // rather than silently mislabel.
    val maxRounds =
      graft.GraftConf.int(vertices.sparkSession, "spark.graft.cc.maxRounds", 20)
    while (changed > 0 && rounds < maxRounds) {
      // min(label) over each vertex's neighborhood: the labels side is
      // shuffled by doc_id to meet the pre-partitioned edges — one |V|
      // shuffle + one |V|-group agg per round, no |E| movement
      val neighborMin = sym
        .join(labels, sym("dst") === labels("doc_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nmin"))
      // materialize the propagated labels ONCE per round — they feed both
      // sides of the pointer-jump join below, and an unmaterialized plan
      // would re-run the neighbor join per reference
      val prop = labels.as("l")
        .join(neighborMin.as("n"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      // pointer jumping (label := label's label): halves chain depth each
      // round, so long chains converge in O(log diameter) rounds
      val parent = prop.select(col("doc_id").as("p_id"), col("label").as("p_label"))
      // the convergence check rides the round's checkpoint job via
      // observe — it was its own count() job per round (O(log diameter)
      // extra jobs per clustering)
      val (next, obs) = CheckpointLifecycle.observedCheckpoint(prop
        .join(parent, prop("label") === parent("p_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("label"), coalesce(col("p_label"), col("label"))).as("label")),
        count(when(col("label") =!= col("old"), 1)).as("changed"))
      changed = obs.getLong(0)
      labels = next.select(col("doc_id"), col("label"))
      // next is materialized (eager checkpoint, convergence count
      // riding it), so this round's prop and the previous labels are dead
      CheckpointLifecycle.unpersist(prop)
      CheckpointLifecycle.unpersist(prevRound)
      prevRound = next
      rounds += 1
    }
    // the returned labels derive from the FINAL round's checkpoint only
    CheckpointLifecycle.unpersist(sym)
    // a silent exit with unconverged labels would MISLABEL clusters
    // (different docs of one component keep different labels) — refuse
    // loudly instead; the cap is a lineage-depth bound, not a result
    // approximation
    if (changed > 0) throw new IllegalStateException(
      s"connected components did not converge in $maxRounds rounds " +
        s"($changed labels still moving) — the pair graph's diameter " +
        "exceeds ~2^" + maxRounds + "; raise spark.graft.cc.maxRounds")
    labels
  }

  /** Dedup cluster resolution: connected components over a near-dup pair
    * graph, each doc labeled with its cluster's minimum doc_id (the
    * canonical survivor). The driver-checked query runs
    * [[connectedComponents]] over the DETERMINISTIC consecutive-id
    * n-gram-Jaccard ≥ 0.7 graph, which a DuckDB recursive CTE can
    * replicate exactly (full hash-matched oracle); the same operator over
    * the MinHash-LSH pair graph is gated by the union-find spec in
    * LlmOpsSpec.
    */
  /** The deterministic near-dup pair graph both CC queries run on
    * (consecutive-id pairs with word-set Jaccard ≥ 0.7 — DuckDB can
    * replay it exactly, so both stay fully oracle-checked).
    */
  private def pairGraph(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val ws = T.documents(s, d).select(col("doc_id"), wordSet(col("text")).as("ws"))
    ws.as("a")
      .join(ws.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        (size(array_intersect(col("a.ws"), col("b.ws"))).cast("double") /
          size(array_union(col("a.ws"), col("b.ws"))).cast("double")).as("j"))
      .filter(col("j") >= 0.7)
      .select(col("id_a"), col("id_b"))
  }

  private def clusters(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    connectedComponents(T.documents(s, d).select(col("doc_id")), pairGraph(s, d))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("cluster_id"))

  /** Dedup APPLICATION (the rewrite [[clusters]] informs): keep exactly
    * one representative per near-dup cluster — the minimum doc_id, the
    * deterministic production convention — and report how many docs it
    * absorbed. The anti-join of losers is implicit: survivors are the
    * rows whose label equals their own id, a row-local filter on the CC
    * output, then one |clusters|-sized join for the absorbed counts. At
    * 100 TB this adds one skinny shuffle on top of the CC rounds.
    */
  private def prune(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val labels = connectedComponents(
      T.documents(s, d).select(col("doc_id")), pairGraph(s, d))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_absorbed"))
    labels.filter(col("doc_id") === col("label"))
      .join(sizes, "label")
      .select(col("doc_id"), col("n_absorbed"))
      .orderBy(col("doc_id"))
  }

  /** SemDeDup (semantic dedup over embeddings): an IVF-FLAT quantizer
    * with data-sampled centroids buckets the corpus — k = ceil(sqrt(N))
    * centroids are the embeddings of the k lowest vec_ids (the
    * deterministic analog of IVF's random training sample; no Lloyd
    * refinement, so the whole quantizer is plain relational algebra) —
    * then WITHIN each cell a vector is a duplicate iff its cosine to ANY
    * lower-id cell member is >= tau. The pair join never crosses cell
    * boundaries, so candidate work is sum of cell sizes squared
    * (~N^1.5), never all-pairs; only the k-row centroid model rides a
    * broadcast. Cosines round to 6 places BEFORE the argmax/threshold
    * (the [[embedCosine]] parity trick), making assignment and survivor
    * set engine-portable — fully DuckDB-oracle-checked. The Lloyd-refined
    * spherical k-means quantizer remains showcased by sim_ann_ivf/ivfpq.
    */
  private def semdedup(s: org.apache.spark.sql.SparkSession, d: String,
      tau: Double = 0.35): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // feeds centroid sample, assignment, and verify; the √N sizing
    // count rides the checkpoint job (observe)
    val (e, Row(n: Long)) = CheckpointLifecycle.observedCheckpoint(
      T.embeddings(s, d)
        .select(col("vec_id"), toDoubleVec(col("embedding")).as("v"))
        .withColumn("nrm", l2norm(col("v"))),
      count(lit(1)))
    val k = math.ceil(math.sqrt(n.toDouble)).toLong
    val cents = e.orderBy(col("vec_id")).limit(k.toInt)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    // argmax as a max_by AGGREGATE, not a window: map-side partial
    // aggregation collapses each vector's k candidate rows before the
    // exchange, where the window shuffled+sorted all N·k rows. Same
    // rounded sims, same (sim DESC, cid ASC) tie-break — the assignment
    // (and so the hash-gated output) is bit-identical.
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("sim",
        round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("cid"), col("v"), col("nrm")),
        struct(col("sim"), negate(col("cid")))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cell"),
        col("best.v").as("v"), col("best.nrm").as("nrm"))
    val idx = assigned.repartition(col("cell")).localCheckpoint()
    val dups = idx.as("a")
      .join(idx.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 6)
        >= tau)
      .select(col("b.vec_id").as("vec_id"))
      .distinct()
    idx.join(dups, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** INCREMENTAL near-dup admission — the shape a 100 TB pipeline
    * actually runs day to day: screen a NEW batch (delta) against the
    * EXISTING corpus and admit only documents with no corpus
    * near-duplicate (set-Jaccard ≥ t). The corpus is NEVER joined to
    * itself: its prefix tokens become a posting-list INDEX (in
    * production built once and reused across batches), each delta doc
    * probes only the postings of its own prefix tokens, and PPJoin's
    * size + positional filters prune before one exact-verify join.
    * Cost is O(delta · matched postings), independent of corpus² —
    * re-running yesterday's full dedup to admit today's 0.1% delta is
    * exactly the waste this avoids. The prefix theorem is symmetric in
    * the pair, so the asymmetric probe keeps FULL recall (both docs'
    * prefixes under one global token order must share a token when
    * J ≥ t). Long corpus posting lists are chunked (`maxPost`) and
    * probes fan out per chunk — a hot token costs bounded reducers,
    * never one giant cell. Delta membership here: doc_id % 10 = 0.
    */
  private def incremental(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    incrementalScreen(s,
      T.documents(s, d).select(col("doc_id"), wordSet(col("text")).as("ws")),
      id => id % 10 === 0, // the GATE's delta-membership convention
      t = 0.9)

  /** The reusable in-memory incremental screen behind `dd_incremental`:
    * admit the `isDelta` docs of `raw (doc_id, ws)` that have no
    * corpus (non-delta) near-duplicate at Jaccard ≥ t. `isDelta` is the
    * CALLER's membership predicate over an id column — the `%10` slice
    * is purely the gate's fixture convention, not library semantics
    * (the persisted form, [[indexScreen]], takes a real delta frame).
    */
  private[graft] def incrementalScreen(s: org.apache.spark.sql.SparkSession,
      raw: DataFrame, isDelta: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column, t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val par = s.sparkContext.defaultParallelism
    def admit(dup: DataFrame): DataFrame =
      raw.filter(isDelta(col("doc_id"))).select(col("doc_id"))
        .join(dup, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("surviving_id"))
        .orderBy(col("surviving_id"))
    // DENSE-VOCABULARY fast path (the setsimPairs dispatch, same caps):
    // prefix probing is structurally useless under ≤64 tokens — reuse
    // the popcount kernel and keep only delta-vs-corpus pairs
    val vocabMax = graft.GraftConf.int(s,
      "spark.graft.setsim.bitmaskVocabMax", 64, min = 0)
    if (vocabMax > 0) {
      val probe = raw.select(explode(col("ws")).as("tok"))
        .distinct().limit(math.min(vocabMax, 64) + 1)
        .collect().map(_.getString(0))
      if (probe.length <= math.min(vocabMax, 64))
        bitmaskPairs(s, raw, probe.sorted.toIndexedSeq, t) match {
          case Some(pairs) =>
            val dup = pairs
              .select(col("id_a").as("doc_id"), col("id_b").as("o"))
              .unionByName(pairs.select(col("id_b").as("doc_id"),
                col("id_a").as("o")))
              .filter(isDelta(col("doc_id")) && !isDelta(col("o")))
              .select(col("doc_id")).distinct()
            return admit(dup)
          case None => () // distinct-mask cap: asymmetric probe below
        }
    }
    val docs = raw.withColumn("sz", size(col("ws")))
    // one token pass, sides tagged; document-frequency order computed
    // over BOTH sides (prefixes must share one global order)
    val tok = docs.select(col("doc_id"), col("sz"),
      isDelta(col("doc_id")).as("dl"),
      explode(col("ws")).as("tok"))
    val dfreq = tok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val prefix = tok
      .join(dfreq, "tok")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("tok"), col("doc_id"), col("sz"), col("rn"), col("dl"))
      .repartition(par, col("tok"))
    val index = prefix.filter(!col("dl"))
    val probes = prefix.filter(col("dl"))
    val cand = probeCandidates(index, probes, t, MaxPostings)
    val dupDelta = verifyPairs(s, docs, cand, t)
      .select(col("id_a").as("doc_id")).distinct()
    admit(dupDelta)
  }

  /** PPJoin asymmetric probe: candidate (delta, corpus) pairs from a
    * posting-list index. Both inputs carry `(tok, doc_id, sz, rn)`
    * under ONE shared global token order. Long corpus posting lists are
    * chunked (`maxPost`); a probe replicates once per partner chunk
    * (probe tokens absent from the index join away), so a hot token
    * costs bounded reducers, never one giant cell.
    */
  private def probeCandidates(index: DataFrame, probes: DataFrame,
      t: Double, maxPost: Int): DataFrame = {
    val counts = index.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val idxC = index.join(counts, "tok")
      .withColumn("nch", ceil(col("cnt") / maxPost).cast("int"))
      .withColumn("q", pmod(xxhash64(col("doc_id")), col("nch")).cast("int"))
    val prC = probes.join(counts, "tok")
      .withColumn("nch", ceil(col("cnt") / maxPost).cast("int"))
      .withColumn("cell", explode(sequence(lit(0), col("nch") - 1)))
    prC.as("a")
      .join(idxC.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.cell") === col("b.q") &&
          // J ≥ t ⟹ t·max(|a|,|b|) ≤ min(|a|,|b|)
          lit(t) * greatest(col("a.sz"), col("b.sz")) <=
            least(col("a.sz"), col("b.sz")) &&
          // positional filter (see ppCandidates; recall-safe)
          lit(1) + least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) >=
            ceil(lit(t) / (1 + t) * (col("a.sz") + col("b.sz"))))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(lit(1)) // dedup emissions
      .select(col("id_a"), col("id_b"))
  }

  // ---- persisted incremental-dedup index --------------------------------
  //
  // The operational form of [[incremental]]: the corpus posting-list
  // index lives in GRAFT TABLES and is built ONCE, then each daily
  // batch probes the stored index and appends its admitted docs' word
  // sets AND postings in one atomic multi-table commit — the
  // amortization that justifies the operator at 100 TB (screening a
  // 0.1% delta never re-tokenizes or re-windows the corpus).
  //
  // Tables under `<branch>.dd`:
  //   docs     (doc_id BIGINT, ws ARRAY<STRING>)  — tokenized word sets
  //   postings (tok STRING, doc_id BIGINT, sz INT, rn INT) — prefix index
  //   dfreq    (tok STRING, df BIGINT)            — FROZEN at init
  //
  // The prefix theorem needs both sides' prefixes under ONE total token
  // order, but ANY fixed order preserves full recall — df order is only
  // the optimization that keeps posting lists short. So the order is
  // FROZEN at init time: `(df@init, tok)`, with tokens unseen at init
  // at df 0. New batches' postings and probes both rank under the same
  // stored dfreq, so the order — and therefore recall — stays exact
  // forever without ever rewriting the index; dfreq is intentionally
  // never updated (updating it would silently re-order existing
  // postings' prefixes out from under the index).

  private def repoName(repo: graft.versioned.GraftRepo): String =
    repo.root.getFileName.toString

  /** Prefix postings of `(doc_id, ws)` docs under the frozen `dfreq`
    * order — used for the initial corpus, every batch's probes, and
    * every admitted batch's appended postings, so all three agree.
    */
  private def frozenPostings(docs: DataFrame, dfreq: DataFrame,
      t: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.withColumn("sz", size(col("ws")))
      .select(col("doc_id"), col("sz"), explode(col("ws")).as("tok"))
      .join(dfreq.select(col("tok"), col("df")), Seq("tok"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("tok"))))
      .filter(col("rn") <= col("sz") - ceil(lit(t) * col("sz")) + 1)
      .select(col("tok"), col("doc_id"), col("sz").cast("int").as("sz"),
        col("rn").cast("int").as("rn"))
  }

  /** Create + populate the index tables from the corpus `(doc_id,
    * text)` — the once-per-corpus cost every later batch amortizes.
    * One atomic commit covers all three tables.
    *
    * `mode` picks the SCREEN STRATEGY the index stores:
    *   - `ppjoin` (default): exact prefix-filter posting lists — full
    *     recall at any threshold, the right default. Its known worst
    *     case is a DENSE shared vocabulary (every doc carries the hot
    *     tokens, so posting lists grow with the corpus even after the
    *     delta-vocabulary prune).
    *   - `minhash`: banded MinHash signatures (64 perms, 8×8 — the
    *     [[minhashLsh]] scheme). Candidates come from band-bucket
    *     collisions, so the per-doc index cost is a FIXED 8 rows
    *     regardless of vocabulary shape — the sketch answer for the
    *     dense-vocabulary 100 TB corpus — at banding's recall
    *     (J ≥ 0.9 pairs caught w.p. ~0.989; survivors still
    *     EXACT-verified, so no false rejection ever). Same
    *     screen/admit/retire/compact API, same atomic multi-table
    *     commit machinery; the mode is stored in `dd/meta` and
    *     dispatched on automatically.
    */
  def indexInit(s: org.apache.spark.sql.SparkSession, cat: String,
      repo: graft.versioned.GraftRepo, branch: String,
      corpus: DataFrame, t: Double, mode: String = "ppjoin"): Unit = {
    require(mode == "ppjoin" || mode == "minhash",
      s"unknown dedup index mode '$mode' (ppjoin | minhash)")
    if (mode == "minhash") return indexInitMinhash(s, cat, repo, branch,
      corpus, t)
    val r = repoName(repo)
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.docs " +
      "(doc_id BIGINT, ws ARRAY<STRING>)")
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.postings " +
      "(tok STRING, doc_id BIGINT, sz INT, rn INT)")
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.dfreq (tok STRING, df BIGINT)")
    val docs = corpus
      .select(col("doc_id").cast("long").as("doc_id"),
        wordSet(col("text")).as("ws"))
    val dfreq = docs.select(explode(col("ws")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // dfreq feeds both the stored table and the postings ranking below;
    // localCheckpoint so the vocabulary aggregate runs once
    val frozen = dfreq.localCheckpoint()
    graft.versioned.TableOps.atomicAppend(s, repo, branch, Seq(
      "dd/docs" -> docs,
      "dd/postings" -> frozenPostings(docs, frozen, t),
      "dd/dfreq" -> frozen), "dd index init")
  }

  // ---- MinHash sketch mode of the persisted index ------------------------

  /** MinHash band parameters of the sketch mode — the [[minhashLsh]]
    * scheme (64 perms, 8 bands × 8 rows: catches J ≳ 0.77 w.h.p.).
    * Persisted in `dd/meta` so a stored index is self-describing and
    * probes band identically forever, even if these defaults change.
    */
  private val MhBands = 8
  private val MhRows = 8

  /** Banded signature rows `(band, bh, doc_id)` of `(doc_id, ws)` docs
    * — used for the initial corpus, every batch's probes, and every
    * admitted batch's appended bands, so all three agree (the
    * [[frozenPostings]] analog of the sketch mode).
    */
  private def minhashBandRows(docs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    docs
      .withColumn("sig", graft.functions.HashExpressions
        .minHashSignatureNative(col("ws"), k = bands * rowsPerBand))
      .select(col("doc_id"), posexplode(lshBandsExpr("sig", bands, rowsPerBand)))
      .toDF("doc_id", "band", "bh")
      .select(col("band").cast("int").as("band"), col("bh"), col("doc_id"))

  /** ONE delta-proportional prune shape for every stored-table scan:
    * left-semi join of `big` to the delta-derived `keys`, the keys side
    * BROADCAST while provably bounded
    * (spark.graft.dedup.broadcastKeysMax) and a keyed semi join past
    * the cap — shared by BOTH screen modes and the admit path, so a
    * dispatch-rule fix can never apply to one and not the others.
    * Callers pass the count that actually bounds THEIR key set (vocab,
    * doc ids, band keys, candidate partners — they differ per site).
    */
  private def semiPrune(s: org.apache.spark.sql.SparkSession,
      big: DataFrame, keys: DataFrame, on: Seq[String],
      keyCount: Long): DataFrame = {
    val bcastMax =
      graft.GraftConf.int(s, "spark.graft.dedup.broadcastKeysMax", 4000000)
    if (keyCount <= bcastMax)
      big.join(org.apache.spark.sql.functions.broadcast(keys), on,
        "left_semi")
    else big.join(keys, on, "left_semi")
  }

  /** The stored sketch-mode parameters, or None for a PPJoin index
    * (which predates — and never writes — `dd/meta`).
    */
  private def ddMeta(s: org.apache.spark.sql.SparkSession, pre: String)
      : Option[(Int, Int)] =
    scala.util.Try {
      val r = s.table(s"$pre.meta")
        .select(col("mode"), col("bands"), col("rows_per_band")).head()
      (r.getString(0), r.getInt(1), r.getInt(2))
    }.toOption.collect { case ("minhash", b, rp) => (b, rp) }

  /** Per-JVM cache of [[ddMeta]] keyed by the dd/meta table's SNAPSHOT
    * ID (immutable content address — the table is written once at init
    * and never appended to): every screen AND admit re-read the 1-row
    * mode dispatch as its own Spark job. PPJoin indexes (no dd/meta in
    * the head commit) resolve no id and stay on the uncached path —
    * which is job-free for them anyway (the missing-table read fails at
    * analysis).
    */
  private val ddMetaCache = new java.util.concurrent
    .ConcurrentHashMap[(String, String), (String, Option[(Int, Int)])]()

  private def ddMetaCached(s: org.apache.spark.sql.SparkSession,
      cat: String, repoName: String, branch: String, pre: String)
      : Option[(Int, Int)] = {
    val resolved: Option[(String, String)] =
      try s.conf.getOption(s"spark.sql.catalog.$cat.root").flatMap { root =>
        graft.versioned.GraftRepo.open(
          java.nio.file.Paths.get(root).resolve(repoName))
          .headCommit(branch).tables.get("dd/meta")
          .map(id => (s"$root/$repoName", id))
      } catch { case _: Exception => None }
    resolved match {
      case None => ddMeta(s, pre)
      case Some((rootKey, id)) =>
        val key = (rootKey, branch)
        val cur = ddMetaCache.get(key)
        if (cur != null && cur._1 == id) cur._2
        else {
          val v = ddMeta(s, pre)
          // gate paths mint fresh UUID roots per invocation — bound the
          // map so long-lived JVMs don't accrete dead keys (a clear
          // just re-runs one 1-row read)
          if (ddMetaCache.size >= 512) ddMetaCache.clear()
          ddMetaCache.put(key, (id, v)); v
        }
    }
  }

  /** [[indexInit]] in sketch mode: `dd/docs` (word sets — the exact-
    * verify dictionary), `dd/bands` (banded signatures — the candidate
    * index; a FIXED `bands` rows per doc, immune to vocabulary shape),
    * and `dd/meta` (the band scheme), in ONE atomic commit.
    */
  private def indexInitMinhash(s: org.apache.spark.sql.SparkSession,
      cat: String, repo: graft.versioned.GraftRepo, branch: String,
      corpus: DataFrame, t: Double): Unit = {
    val r = repoName(repo)
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.docs " +
      "(doc_id BIGINT, ws ARRAY<STRING>)")
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.bands " +
      "(band INT, bh BIGINT, doc_id BIGINT)")
    s.sql(s"CREATE TABLE $cat.$r.$branch.dd.meta " +
      "(mode STRING, t DOUBLE, num_perm INT, bands INT, rows_per_band INT)")
    val docs = corpus
      .select(col("doc_id").cast("long").as("doc_id"),
        wordSet(col("text")).as("ws"))
      .localCheckpoint() // feeds BOTH the docs store and the band rows
    val metaDf = s.createDataFrame(
      Seq(("minhash", t, MhBands * MhRows, MhBands, MhRows)))
      .toDF("mode", "t", "num_perm", "bands", "rows_per_band")
    graft.versioned.TableOps.atomicAppend(s, repo, branch, Seq(
      "dd/docs" -> docs,
      "dd/bands" -> minhashBandRows(docs, MhBands, MhRows),
      "dd/meta" -> metaDf.coalesce(1)), "dd index init (minhash)")
  }

  /** Sketch-mode screen: delta band rows join the stored bands table —
    * pruned to the delta's (band, bh) key set BEFORE any shuffle, the
    * same delta-proportional discipline as the PPJoin screen — and the
    * colliding pairs are EXACT-verified against word sets read from the
    * stored docs table (candidate-partner-pruned). Cost is
    * O(delta · matched band buckets), corpus-independent; banding's
    * recall is the only approximation (a missed true pair ADMITS a doc
    * the exact screen would reject — never the reverse).
    */
  private def indexScreenMinhash(s: org.apache.spark.sql.SparkSession,
      pre: String, delta: DataFrame, t: Double, bands: Int,
      rowsPerBand: Int): (DataFrame, DataFrame) = {
    // checkpointed ONCE with the count riding the checkpoint job (it
    // feeds clash guard, band rows, and verify dict)
    val (deltaDocs, Row(deltaCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(delta
        .select(col("doc_id").cast("long").as("doc_id"),
          wordSet(col("text")).as("ws")), count(lit(1)))
    // same clash guard as the PPJoin screen: a reused id would
    // self-match at J=1.0 in the verify dict → silent wrongful rejection
    val clash = semiPrune(s, s.table(s"$pre.docs").select(col("doc_id")),
      deltaDocs.select(col("doc_id")), Seq("doc_id"), deltaCount)
      .limit(5).collect().map(_.getLong(0))
    require(clash.isEmpty,
      s"delta doc_ids already present in $pre.docs: ${clash.mkString(", ")}" +
        " — incremental screening requires fresh ids")
    // delta band rows (bands·|delta| rows) + their distinct key set;
    // the stored bands table is scanned column-pruned and semi-pruned
    // to the delta's keys — never shuffled whole per screen
    val dBands = minhashBandRows(deltaDocs, bands, rowsPerBand)
      .localCheckpoint() // feeds the key set AND the collision join
    val (keys, Row(keyCount: Long)) = CheckpointLifecycle
      .observedCheckpoint(dBands.select(col("band"), col("bh")).distinct(),
        count(lit(1)))
    val matched = semiPrune(s, s.table(s"$pre.bands"), keys,
      Seq("band", "bh"), keyCount)
    val cand = dBands.as("a")
      .join(matched.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .localCheckpoint() // feeds the partner prune AND the verify join
    // exact verify reads only the CANDIDATE partners' word sets
    val (partnerIds, Row(partnerCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(
        cand.select(col("id_b").as("doc_id")).distinct(), count(lit(1)))
    val partners = semiPrune(s, s.table(s"$pre.docs"), partnerIds,
      Seq("doc_id"), partnerCount)
    val dup = verifyPairs(s, deltaDocs.unionByName(partners), cand, t)
      .select(col("id_a").as("doc_id")).distinct()
    (deltaDocs.select(col("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("surviving_id")), deltaDocs)
  }

  /** Screen a batch `(doc_id, text)` against the STORED index: admitted
    * ids (no corpus near-duplicate at Jaccard ≥ t). The corpus is never
    * re-tokenized — probes rank under the stored dfreq, candidates come
    * from the stored postings, and exact verification reads partner
    * word sets from the stored docs table. A sketch-mode index
    * (`dd/meta` mode=minhash) dispatches to [[indexScreenMinhash]].
    */
  def indexScreen(s: org.apache.spark.sql.SparkSession, cat: String,
      repoName: String, branch: String, delta: DataFrame,
      t: Double): DataFrame =
    indexScreenWith(s, cat, repoName, branch, delta, t)._1

  /** [[indexScreen]] + the screen's CHECKPOINTED tokenized delta — the
    * admit path filters that for its appends instead of re-tokenizing
    * the raw delta (one wordSet pass and one checkpoint job per admit
    * saved; at scale, one fewer pass over the batch's text).
    */
  private def indexScreenWith(s: org.apache.spark.sql.SparkSession,
      cat: String, repoName: String, branch: String, delta: DataFrame,
      t: Double): (DataFrame, DataFrame) = {
    val pre = s"$cat.$repoName.$branch.dd"
    ddMetaCached(s, cat, repoName, branch, pre) match {
      case Some((b, rp)) => return indexScreenMinhash(s, pre, delta, t, b, rp)
      case None => ()
    }
    // tokenized ONCE: the delta feeds the clash guard, the vocabulary
    // prune, the probe ranking, and the verify dict — small by contract
    // (it's the daily batch), so the checkpoint is cheap and every
    // downstream use reads blocks instead of re-running wordSet
    // checkpointed ONCE with the count riding the checkpoint job
    val (deltaDocs, Row(deltaCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(delta
        .select(col("doc_id").cast("long").as("doc_id"),
          wordSet(col("text")).as("ws")), count(lit(1)))
    // O(delta · matched postings), ENFORCED not just claimed: every
    // join of delta-derived keys against a stored table is a left-semi
    // with the delta side BROADCAST — the big stored side is scanned
    // (column-pruned), never shuffled. One dispatch on the delta's
    // vocabulary size (its largest key set) flips all of them to keyed
    // semi joins for deltas big enough to amortize a corpus shuffle
    // (spark.graft.dedup.broadcastKeysMax). The r14 100× smoke caught
    // the unpruned shape: probeCandidates' token-count aggregate
    // shuffled EVERY stored posting per screen, so a fixed daily delta
    // slowed down as the corpus grew.
    //
    // the shared [[semiPrune]] shape, dispatched per key set on ITS OWN
    // row count: a delta can have vocab >> docs or docs >> vocab or
    // candidate partners >> both, so each caller passes the count that
    // actually bounds its broadcast (each count rides its key set's
    // checkpoint job — see CheckpointLifecycle.observedCheckpoint)
    val (deltaToks, Row(vocabCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(
        deltaDocs.select(explode(col("ws")).as("tok")).distinct(),
        count(lit(1)))
    // ids must be disjoint from the corpus: a delta doc_id already in
    // dd.docs would join BOTH word sets in the verify dict (a corpus
    // row self-matches at J=1.0 → silent wrongful rejection) — refuse
    // loudly instead. The doc-id set dispatches on the DOC count: a
    // delta with many docs sharing few tokens has doc count >> vocab,
    // and riding the vocab dispatch would broadcast an unbounded id set
    val deltaIds = deltaDocs.select(col("doc_id"))
    val clash = semiPrune(s, s.table(s"$pre.docs").select(col("doc_id")),
      deltaIds, Seq("doc_id"), deltaCount)
      .limit(5).collect().map(_.getLong(0))
    require(clash.isEmpty,
      s"delta doc_ids already present in $pre.docs: ${clash.mkString(", ")}" +
        " — incremental screening requires fresh ids")
    // stored dfreq and postings pruned to the delta's vocabulary BEFORE
    // any aggregate or join (the postings prune uses the full delta
    // vocab — a superset of the prefix vocab, equally correct: the
    // probe join re-filters on tok)
    val dfreqPruned =
      semiPrune(s, s.table(s"$pre.dfreq"), deltaToks, Seq("tok"), vocabCount)
    val probes = frozenPostings(deltaDocs, dfreqPruned, t)
    val matched =
      semiPrune(s, s.table(s"$pre.postings"), deltaToks, Seq("tok"),
        vocabCount)
    val cand = probeCandidates(matched, probes, t, MaxPostings)
      .localCheckpoint() // feeds the partner prune AND the verify join
    // the verify dictionary likewise reads only the CANDIDATE partners'
    // word sets from the stored docs table — never the whole corpus.
    // Partner ids get their OWN broadcast dispatch: a pathological
    // delta can match far more distinct partners than it has tokens
    val (partnerIds, Row(partnerCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(
        cand.select(col("id_b").as("doc_id")).distinct(), count(lit(1)))
    val partners = semiPrune(s, s.table(s"$pre.docs"), partnerIds,
      Seq("doc_id"), partnerCount)
    val dict = deltaDocs.unionByName(partners)
    val dup = verifyPairs(s, dict, cand, t)
      .select(col("id_a").as("doc_id")).distinct()
    (deltaDocs.select(col("doc_id"))
      .join(dup, Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("surviving_id")), deltaDocs)
  }

  /** Screen + admit: append the admitted docs' word sets AND their
    * postings (ranked under the frozen order) in ONE atomic multi-table
    * commit, so a reader never observes a doc without its postings (or
    * vice versa) and batch N+1 screens against batch N's admissions.
    * Returns the admitted ids.
    */
  def indexAdmit(s: org.apache.spark.sql.SparkSession, cat: String,
      repo: graft.versioned.GraftRepo, branch: String, delta: DataFrame,
      t: Double): DataFrame = {
    val pre = s"$cat.${repoName(repo)}.$branch.dd"
    val (surviving, deltaDocs) =
      indexScreenWith(s, cat, repoName(repo), branch, delta, t)
    val admitted = surviving
      .localCheckpoint() // screened once; feeds the filter AND the return
    // the admitted docs' word sets come off the SCREEN's checkpointed
    // tokenization — no second wordSet pass over the raw delta
    val adDocs = deltaDocs
      .join(admitted.select(col("surviving_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .localCheckpoint() // feeds the vocab prune AND both appends
    ddMetaCached(s, cat, repoName(repo), branch, pre) match {
      case Some((b, rp)) =>
        // sketch mode: admitted docs + their band rows, one atomic
        // commit (banding needs no frozen global order, so no dfreq)
        graft.versioned.TableOps.atomicAppend(s, repo, branch, Seq(
          "dd/docs" -> adDocs,
          "dd/bands" -> minhashBandRows(adDocs, b, rp)),
          "dd index admit")
        return admitted
      case None => ()
    }
    // same delta-proportional rule as the screen: the admitted docs'
    // postings rank against dfreq pruned to THEIR vocabulary (broadcast
    // semi — the stored vocab is scanned, never shuffled per admit)
    val (adToks, Row(adTokCount: Long)) =
      CheckpointLifecycle.observedCheckpoint(
        adDocs.select(explode(col("ws")).as("tok")).distinct(),
        count(lit(1)))
    val dfreqPruned = semiPrune(s, s.table(s"$pre.dfreq"), adToks,
      Seq("tok"), adTokCount)
    graft.versioned.TableOps.atomicAppend(s, repo, branch, Seq(
      "dd/docs" -> adDocs,
      "dd/postings" -> frozenPostings(adDocs, dfreqPruned, t)),
      "dd index admit")
    admitted
  }

  /** Maintenance for the persisted index: bin-pack `dd/docs` and
    * `dd/postings` (each daily [[indexAdmit]] appends one small file
    * set per table — screens stay CORRECT as files accrete, but pay
    * O(admissions) file opens until compacted). Delegates to the
    * generic graft compaction ([[graft.versioned.TableOps.compact]]):
    * logical rows unchanged, so a post-compaction screen is
    * bit-identical; the commit carries the structural compaction
    * marker, so incremental consumers of a synced index skip it.
    * Returns (files before, files after) summed over both tables. Run
    * after every K admissions — the postings/doc row data never needs
    * re-derivation, this is purely file-layout hygiene.
    */
  def indexCompact(s: org.apache.spark.sql.SparkSession,
      repo: graft.versioned.GraftRepo, branch: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    // the candidate table depends on the index MODE: postings (ppjoin)
    // or bands (minhash) — compact whichever the head commit carries
    val present = repo.headCommit(branch).tables
    val targets = Seq("dd/docs", "dd/postings", "dd/bands")
      .filter(present.contains)
    require(targets.nonEmpty,
      s"no dedup index tables on $branch — indexInit first")
    targets
      .map(k => graft.versioned.TableOps.compact(s, repo, branch, k,
        targetFileBytes))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** RETIRE documents from the persisted index (the GDPR-style removal
    * a training-data index needs): ONE atomic commit appends an id
    * tombstone to dd/docs AND dd/postings, so from the next read on a
    * retired doc neither blocks admission ([[indexScreen]] reads both
    * tables through the tombstone-aware scan) nor surfaces anywhere
    * else; [[indexCompact]] materializes the removal physically (the
    * generic compaction always rewrites tombstone-dirty files).
    *
    * dd/dfreq is intentionally untouched: the frozen df order is an
    * ORDERING artifact, not a membership list — updating it would
    * re-rank surviving postings' prefixes out from under the index
    * (see the frozen-order note at the top of this section); keeping
    * it costs at most slightly conservative prefixes later.
    *
    * The id set becomes a metadata predicate, so it must be
    * driver-sized — bounded by [[RetireMaxIds]] (100k; retire
    * batches are control-plane-sized). Bulk purges that
    * exceed it should run as several bounded retires, or as a COLUMN
    * predicate via [[graft.versioned.TableOps.atomicDeleteMoR]]
    * directly ("delete every doc from source X" is O(1) metadata at
    * any cardinality).
    */
  def indexRetire(s: org.apache.spark.sql.SparkSession,
      repo: graft.versioned.GraftRepo, branch: String,
      ids: Seq[Long]): Unit = {
    require(ids.nonEmpty, "indexRetire needs at least one doc_id")
    require(ids.size <= RetireMaxIds,
      s"retire batch of ${ids.size} ids exceeds the $RetireMaxIds-id cap " +
        "— split the batch or retire by column predicate")
    val p = Seq[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("doc_id",
        ids.map(Long.box).toArray[Any]))
    // tombstone the mode's candidate table alongside docs: postings
    // (ppjoin) or bands (minhash), whichever the head commit carries
    val present = repo.headCommit(branch).tables
    val targets = Seq("dd/docs", "dd/postings", "dd/bands")
      .filter(present.contains)
    graft.versioned.TableOps.atomicDeleteMoR(repo, branch,
      targets.map(_ -> p), s"dd index retire ${ids.size} docs")
    warnTombstoneBytes(s, repo, branch, targets, "Dedup.indexCompact")
  }

  /** Repeated bounded retires COMPOUND: each one appends an id-list
    * tombstone to snapshot properties, and every later commit
    * re-carries the JSON until compaction materializes the deletes.
    * Warn past 256 KiB per table so the hot commit
    * path never silently drags megabytes of retire predicates.
    */
  private[operators] def warnTombstoneBytes(
      s: org.apache.spark.sql.SparkSession,
      repo: graft.versioned.GraftRepo, branch: String,
      keys: Seq[String], compactHint: String): Unit = {
    val warnBytes = 256L << 10
    keys.map(k => k ->
      graft.versioned.TableOps.tombstonePropBytes(repo, branch, k))
      .filter(_._2 > warnBytes)
      .foreach { case (k, bytes) =>
        System.err.println(s"[graft] WARNING: $k carries $bytes bytes of " +
          "retire tombstones in snapshot properties — every commit " +
          s"re-carries them until compaction; run $compactHint")
      }
  }

  /** End-to-end gate for the PERSISTED index: build the corpus index in
    * graft tables, atomically admit batch 1, then screen batch 2
    * against corpus + batch-1 admissions — the full daily-pipeline
    * cycle (init → admit → screen) under one DuckDB oracle that
    * replays both stages with exact Jaccard. Membership: corpus =
    * doc_id%100 ∈ [10,19], batch 1 = %100=5, batch 2 = %100=0 — thin
    * slices on purpose: the gate proves the init → admit → screen
    * cycle, and this corpus's ~50-token shared vocabulary is the
    * documented dense-vocab WORST CASE for prefix filtering (see the
    * dd_setsim cost note in BASELINE.md; dd_incremental dodges it via
    * the ≤64-token bitmask fast path, which the stored-index path
    * deliberately does not take — a posting-list index is the 10^5+
    * token Zipfian-vocabulary design).
    */
  /** Per-JVM TEMPLATE of the gate corpus index (the %100 ∈ [10,19]
    * slice at t = 0.9) — built ONCE, then byte-copied per gate: the vc
    * fixture-template trick applied to the two lifecycle gates
    * (dd_incr_persist, st_dedup_persist) that previously each paid the
    * same ~2 s indexInit. The template is read-only after init; every
    * copy mutates only its own tree. Keyed by file identity so
    * regenerated testdata rebuilds.
    */
  // ConcurrentHashMap.computeIfAbsent, not TrieMap.getOrElseUpdate: the
  // builder runs a ~2 s indexInit, and getOrElseUpdate can evaluate it
  // in two racing threads (leaking a duplicate temp tree until JVM
  // exit) — computeIfAbsent guarantees at-most-once per key
  private val gateIndexTemplate = new java.util.concurrent
    .ConcurrentHashMap[(String, Long, Long, String), java.nio.file.Path]()

  /** A fresh catalog + repo holding a COPY of the corpus-index
    * template in the given `mode`. Returns (catalog name, repo). */
  private[operators] def copiedCorpusIndex(
      s: org.apache.spark.sql.SparkSession, d: String,
      mode: String = "ppjoin")
      : (String, graft.versioned.GraftRepo) = {
    val t = 0.9
    val f = java.nio.file.Paths.get(s"$d/documents.parquet")
    val key = (d, java.nio.file.Files.getLastModifiedTime(f).toMillis,
      java.nio.file.Files.size(f), mode)
    val tpl = gateIndexTemplate.computeIfAbsent(key, _ => {
      val cat0 = "gtpl" + java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val root0 = GateScratch.register(
        java.nio.file.Files.createTempDirectory(s"graft-$cat0"))
      s.conf.set(s"spark.sql.catalog.$cat0",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat0.root", root0.toString)
      s.sql(s"CREATE NAMESPACE $cat0.r")
      s.sql(s"CREATE NAMESPACE $cat0.r.main.dd")
      val repo0 = graft.versioned.GraftRepo.open(root0.resolve("r"))
      indexInit(s, cat0, repo0,
        "main", T.documents(s, d).select(col("doc_id"), col("text"))
          .filter((col("doc_id") % 100).between(10, 19)), t, mode)
      root0
    })
    val cat = "gdd" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(10)
    val root = GateScratch.register(
      java.nio.file.Files.createTempDirectory(s"graft-$cat"))
    GateScratch.copyTree(tpl, root)
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root.toString)
    (cat, graft.versioned.GraftRepo.open(root.resolve("r")))
  }

  private def incrPersist(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val t = 0.9
    val (cat, repo) = copiedCorpusIndex(s, d)
    val docs = T.documents(s, d).select(col("doc_id"), col("text"))
    indexAdmit(s, cat, repo, "main", docs.filter(col("doc_id") % 100 === 5), t)
    indexScreen(s, cat, "r", "main", docs.filter(col("doc_id") % 100 === 0), t)
      .orderBy(col("surviving_id"))
  }

  /** Gate for the RETIRE path: retire the corpus's %100==15 slice from
    * the stored index (one atomic tombstone commit — no data rewrite),
    * then screen the %100==0 batch against what remains. The oracle
    * replays the screen against the corpus MINUS the retired slice, so
    * the tombstone-aware read of docs AND postings is hash-proven:
    * a single leaked posting for a retired doc would reject a batch
    * doc the oracle admits.
    */
  private def retirePersist(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val t = 0.9
    val (cat, repo) = copiedCorpusIndex(s, d)
    val docs = T.documents(s, d).select(col("doc_id"), col("text"))
    val retired = docs.filter(col("doc_id") % 100 === 15)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    indexRetire(s, repo, "main", retired)
    indexScreen(s, cat, "r", "main", docs.filter(col("doc_id") % 100 === 0), t)
      .orderBy(col("surviving_id"))
  }

  /** Gate for the SKETCH-mode persisted index: init (minhash) on the
    * same corpus slice, atomically admit batch 1, screen batch 2, then
    * prove both halves of the sketch contract against an engine-side
    * EXACT screen over the SAME stored state (the docs table after the
    * admit — so the proof covers exactly what the screen saw):
    * `no_false_reject` — every rejected doc really has an exact-J ≥ t
    * partner in the stored corpus (exact-verify wiring; a single
    * banding false positive surviving verification flips it) — and
    * `recall_ok` — banding caught ≥ 95% of the docs the exact screen
    * rejects (a band-scheme regression flips it). Deterministic on
    * fixed data: the minhash permutations are unseeded.
    */
  private def mhPersist(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val t = 0.9
    val (cat, repo) = copiedCorpusIndex(s, d, "minhash")
    val docs = T.documents(s, d).select(col("doc_id"), col("text"))
    indexAdmit(s, cat, repo, "main", docs.filter(col("doc_id") % 100 === 5), t)
    val batch = docs.filter(col("doc_id") % 100 === 0)
    val surv = indexScreen(s, cat, "r", "main", batch, t)
      .localCheckpoint() // feeds the rejected-set anti join
    // exact truth: brute batch × stored-docs Jaccard. GATE-ONLY shape —
    // the %100 slices keep both sides ~50 docs; the library screen
    // above never does this
    val bws = batch
      .select(col("doc_id").cast("long").as("doc_id"),
        wordSet(col("text")).as("ws"))
      .localCheckpoint() // feeds the brute pass AND the batch-id count
    val exactRej = bws.as("a")
      .crossJoin(s.table(s"$cat.r.main.dd.docs")
        .select(col("doc_id").as("o_id"), col("ws").as("ows")).as("b"))
      .filter(round(graft.functions.HashExpressions.setJaccardNative(
        col("ws"), col("ows")), 6) >= t)
      .select(col("doc_id")).distinct()
      .localCheckpoint() // feeds the false-reject join AND its count
    val rejected = bws.select(col("doc_id"))
      .join(surv.select(col("surviving_id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // feeds the subset check AND the recall count
    val falseRej = rejected.join(exactRej, Seq("doc_id"), "left_anti")
    bws.agg(count(lit(1)).as("n_batch"))
      .crossJoin(falseRej.agg((count(lit(1)) === 0).as("no_false_reject")))
      .crossJoin(rejected.agg(count(lit(1)).as("n_rej")))
      .crossJoin(exactRej.agg(count(lit(1)).as("n_exact_rej")))
      .select(col("n_batch"), col("no_false_reject"),
        (col("n_rej") >= col("n_exact_rej") * 0.95).as("recall_ok"))
  }

  val all: Seq[Q] = Seq(
    Q(
      "dd_mh_persist",
      """SELECT CAST(count(*) AS BIGINT) AS n_batch,
        |       true AS no_false_reject, true AS recall_ok
        |FROM documents WHERE doc_id % 100 = 0""".stripMargin
    )(mhPersist),
    Q(
      "dd_incr_persist",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents),
        |cp AS (SELECT * FROM w WHERE doc_id % 100 BETWEEN 10 AND 19),
        |b1 AS (SELECT * FROM w WHERE doc_id % 100 = 5),
        |b2 AS (SELECT * FROM w WHERE doc_id % 100 = 0),
        |dup1 AS (
        |  SELECT DISTINCT d.doc_id FROM b1 d JOIN cp c ON
        |    round(CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) /
        |          len(list_distinct(list_concat(d.ws, c.ws))), 6) >= 0.9),
        |full1 AS (
        |  SELECT * FROM cp UNION ALL
        |  SELECT * FROM b1 WHERE doc_id NOT IN (SELECT doc_id FROM dup1)),
        |dup2 AS (
        |  SELECT DISTINCT d.doc_id FROM b2 d JOIN full1 c ON
        |    round(CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) /
        |          len(list_distinct(list_concat(d.ws, c.ws))), 6) >= 0.9)
        |SELECT doc_id AS surviving_id FROM b2
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup2)
        |ORDER BY surviving_id""".stripMargin
    )(incrPersist),
    Q(
      "dd_retire_persist",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents),
        |cp AS (SELECT * FROM w
        |       WHERE doc_id % 100 BETWEEN 10 AND 19 AND doc_id % 100 <> 15),
        |b AS (SELECT * FROM w WHERE doc_id % 100 = 0),
        |dup AS (
        |  SELECT DISTINCT d.doc_id FROM b d JOIN cp c ON
        |    round(CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) /
        |          len(list_distinct(list_concat(d.ws, c.ws))), 6) >= 0.9)
        |SELECT doc_id AS surviving_id FROM b
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY surviving_id""".stripMargin
    )(retirePersist),
    Q(
      "dd_incremental",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents),
        |dl AS (SELECT * FROM w WHERE doc_id % 10 = 0),
        |cp AS (SELECT * FROM w WHERE doc_id % 10 <> 0),
        |dup AS (
        |  SELECT DISTINCT d.doc_id FROM dl d JOIN cp c ON
        |    round(CAST(len(list_intersect(d.ws, c.ws)) AS DOUBLE) /
        |          len(list_distinct(list_concat(d.ws, c.ws))), 6) >= 0.9)
        |SELECT doc_id AS surviving_id FROM dl
        |WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |ORDER BY surviving_id""".stripMargin
    )(incremental),
    Q(
      "dd_dupspans",
      """WITH t AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
        |           FROM documents),
        |g AS (
        |  SELECT doc_id, i-1 AS pos, unhex(md5(array_to_string(toks[i:i+7],' '))) AS g
        |  FROM t, UNNEST(range(1, len(toks)-8+2)) AS u(i)
        |  WHERE len(toks) >= 8),
        |d AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        |h AS (SELECT doc_id, pos FROM g JOIN d USING (g)),
        |i AS (SELECT doc_id, pos,
        |        CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
        |             THEN 1 ELSE 0 END AS ni
        |      FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |s AS (SELECT doc_id, pos,
        |        sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS UNBOUNDED PRECEDING) AS isl FROM i)
        |SELECT doc_id, min(pos) AS span_start, max(pos)+7 AS span_end,
        |       max(pos)+8-min(pos) AS dup_tokens
        |FROM s GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin
    )(dupSpans),
    Q(
      "dd_exact",
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |ORDER BY keep_id""".stripMargin
    )(exact),
    // Hash-proven gate for the MinHash-LSH pipeline: the xxhash64
    // signatures are engine-specific, but every survivor is exact-
    // Jaccard-verified at the same threshold / word set / rounding as
    // the PPJoin truth ([[ppCandidates]] + [[verifyPairs]]) — the only
    // engine-specific quantity is RECALL, deterministic on fixed data
    // (no seeded hashing). DuckDB reproduces n_true_pairs brute-force;
    // the booleans assert recall ≥ 0.95 (measured 0.981 at sf0.01) and
    // that no verified LSH pair escaped the prefix filter (PPJoin
    // completeness cross-checked by an independent candidate source). A
    // banding regression flips a boolean and fails the hash compare.
    Q(
      "dd_minhash_lsh",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id
        |  WHERE ((a.doc_id * 2654435761 + b.doc_id * 2246822519) >> 16) % 4 = 0
        |    AND round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |              len(list_distinct(list_concat(a.ws, b.ws))), 6) >= 0.9)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
        |       true AS recall_ok, true AS precision_ok
        |FROM p""".stripMargin
    ) { (s, d) =>
      val par = s.sparkContext.defaultParallelism
      // ONE corpus pass (word sets + sizes + signatures checkpointed
      // together), ONE pair-dedup aggregate over the union of both
      // candidate streams tagged by source, ONE exact-verify join —
      // instead of two monolithic pipelines verified separately (both
      // use the same setJaccardNative kernel, so the second verify
      // proved nothing) followed by a hit join. Since PPJoin is
      // recall-complete, truth = verified ∧ in_pp and LSH survivors =
      // verified ∧ in_lsh; precision_ok now asserts no verified LSH
      // pair ESCAPED the prefix filter — a real cross-check of PPJoin
      // completeness against an independent candidate generator, where
      // the old survivors-⊆-truth join was true by construction.
      val docs = T.documents(s, d)
        .select(col("doc_id"), wordSet(col("text")).as("ws"))
        .repartition(par, col("doc_id"))
        .withColumn("sz", size(col("ws")))
        .withColumn("sig",
          graft.functions.HashExpressions.minHashSignatureNative(col("ws"), k = 64))
        .localCheckpoint()
      // Deterministic hash-coin STRATUM over pairs (the q26 sampling
      // trick): the gate verifies a fixed, engine-reproducible quarter
      // of the pair space, so the union groupBy and the exact-verify
      // join shrink 4x while DuckDB still replays the stratum
      // bit-for-bit (r5 measured the unstratified gate at 36 s — 25%
      // of the whole bench — for no extra statistical power: recall
      // and PPJoin-completeness regressions are corpus-wide effects, a
      // deterministic quarter of ~thousands of true pairs sees them).
      // The coin is a Knuth multiplicative hash's MIDDLE bits — three
      // codegen'd integer ops per pair (an md5-string coin measured
      // ~13 s of expression eval across the 14M raw candidates; mod-4
      // of the LOW bits would correlate with the consecutive-id
      // near-dup structure of the corpus). Products stay < 2^45 for
      // any doc_id < 2^13; both engines evaluate in exact BIGINT.
      // Catalyst pushes the filter through the union into both
      // candidate joins, so skipped pairs are dropped at emission.
      val coinPass = pmod(shiftright(col("id_a") * lit(2654435761L) +
        col("id_b") * lit(2246822519L), 16), lit(4)) === 0
      val tagged = ppCandidates(s, docs, 0.9, MaxPostings)
        .withColumn("src", lit(0))
        .unionByName(lshCandidates(s, docs).withColumn("src", lit(1)))
        .filter(coinPass)
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("src") === 0).as("in_pp"), max(col("src") === 1).as("in_lsh"))
      verifyPairs(s, docs, tagged, 0.9)
        .agg(
          count(when(col("in_pp"), lit(1))).as("n_true_pairs"),
          count(when(col("in_lsh"), lit(1))).as("n_lsh_true"),
          count(when(col("in_lsh") && !col("in_pp"), lit(1))).as("n_escaped"))
        .select(col("n_true_pairs"),
          (col("n_lsh_true") >= col("n_true_pairs") * 0.95).as("recall_ok"),
          (col("n_escaped") === lit(0L)).as("precision_ok"))
    },
    Q(
      "dd_setsim",
      """WITH w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws
        |           FROM documents)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         round(CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |               len(list_distinct(list_concat(a.ws, b.ws))), 6) AS jaccard
        |  FROM w a JOIN w b ON a.doc_id < b.doc_id) p
        |WHERE jaccard >= 0.9
        |ORDER BY id_a, id_b""".stripMargin
    )(setsimJoin),
    Q(
      "dd_simhash",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS wd
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         (CAST('0x' || substring(md5(wd), 1, 8) AS BIGINT)
        |          - CASE WHEN CAST('0x' || substring(md5(wd), 1, 8) AS BIGINT)
        |                      >= 2147483648 THEN 4294967296 ELSE 0 END)
        |         * 4294967296
        |         + CAST('0x' || substring(md5(wd), 9, 8) AS BIGINT) AS h
        |  FROM w),
        |bits AS (
        |  SELECT doc_id, b,
        |         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS votes
        |  FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS b)
        |  GROUP BY doc_id, b),
        |fp AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN votes > 0 AND b < 63
        |                       THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
        |                       ELSE 0 END)
        |              - CASE WHEN max(CASE WHEN b = 63 AND votes > 0
        |                              THEN 1 ELSE 0 END) = 1
        |                     THEN CAST(9223372036854775808 AS HUGEINT)
        |                     ELSE 0 END AS BIGINT) AS fp
        |  FROM bits GROUP BY doc_id),
        |chunks AS (
        |  SELECT doc_id, fp, c, (fp >> CAST(c * 16 AS INTEGER)) & 65535 AS cv
        |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS c))
        |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
        |FROM chunks a JOIN chunks b
        |  ON a.c = b.c AND a.cv = b.cv AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 6
        |ORDER BY id_a, id_b""".stripMargin
    )(simhash),
    Q(
      "dd_semdedup",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |en AS (
        |  SELECT vec_id, v,
        |         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |cents AS (
        |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM en
        |  ORDER BY vec_id
        |  LIMIT (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM e)),
        |assign AS (
        |  SELECT vec_id, cell, v, nrm FROM (
        |    SELECT e.vec_id, c.cid AS cell, e.v, e.nrm,
        |           row_number() OVER (
        |             PARTITION BY e.vec_id
        |             ORDER BY round(list_sum(list_transform(list_zip(e.v, c.cv),
        |                             p -> p[1] * p[2])) / (e.nrm * c.cnrm), 6)
        |                        DESC, c.cid) AS rn
        |    FROM en e CROSS JOIN cents c) t
        |  WHERE rn = 1),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM assign a JOIN assign b
        |    ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
        |                p -> p[1] * p[2])) / (a.nrm * b.nrm), 6) >= 0.35)
        |SELECT vec_id, cell FROM assign
        |WHERE vec_id NOT IN (SELECT vec_id FROM dups)
        |ORDER BY vec_id""".stripMargin
    )((s, d) => semdedup(s, d)),
    Q(
      "dd_cluster",
      """WITH RECURSIVE
        |w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7
        |),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.r
        |)
        |SELECT cluster_id, count(*) AS cluster_size FROM (
        |  SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
        |) GROUP BY cluster_id ORDER BY cluster_id""".stripMargin
    )(clusters),
    Q(
      "dd_prune",
      """WITH RECURSIVE
        |w AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
        |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.7
        |),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.node, edges.dst FROM reach JOIN edges ON edges.src = reach.r
        |),
        |lab AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
        |SELECT l.node AS doc_id, c.n_absorbed
        |FROM lab l
        |JOIN (SELECT cluster_id, count(*) AS n_absorbed FROM lab GROUP BY cluster_id) c
        |  ON l.node = c.cluster_id
        |ORDER BY doc_id""".stripMargin
    )(prune),
    Q(
      "dd_ngram_jaccard",
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |       len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
        |FROM (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents) a
        |JOIN (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ws FROM documents) b
        |  ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin
    )(ngramJaccard),
    Q(
      "dd_embed_cosine",
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT id_a, id_b, cos_sim FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
        |               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
        |                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE cos_sim >= 0.35
        |ORDER BY id_a, id_b""".stripMargin
    )(embedCosine)
  )
}
