package graft.operators

import graft.{Q, Tables => T}
import graft.functions.TextVec._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis pack (SURVEY.md §2.3): language ID, quality scoring,
  * token counting, document fingerprinting. All row-local codegen'd
  * expressions over the scan — linear, shuffle-free, embarrassingly
  * parallel at 100 TB.
  */
object TextAnalysis {

  private val stops = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "en", "que", "pour", "dans"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "这", "中"))

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Quality scoring: structural ratios + composite score (oracle-checked). */
  private def quality(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("ws", words(col("text")))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars2"),
        size(col("ws")).cast("long").as("n_words"),
        // nullif guards: an EMPTY document divides by zero, which under
        // Spark 4's default ANSI mode THROWS (DIVIDE_BY_ZERO) where the
        // DuckDB oracle yields NULL — nullif restores the shared NULL
        // semantics. No rounding anywhere: the divisions are bitwise
        // deterministic given identical inputs, while round() itself
        // disagrees across engines at decimal midpoints.
        (length(col("text")).cast("double") /
          nullif(size(col("ws")), lit(0))).as("avg_word_len"),
        (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          nullif(length(col("text")), lit(0))).as("alpha_ratio"),
        (expr(s"size(filter(ws, w -> w IN ${inList(stops("en"))}))").cast("double") /
          nullif(size(col("ws")), lit(0))).as("stop_ratio"))
      .withColumn("quality_score",
        lit(0.4) * col("alpha_ratio") +
          lit(0.3) * least(lit(1.0), col("n_words").cast("double") / 100.0) +
          lit(0.3) * (lit(1.0) - col("stop_ratio")))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens, BPE-ish regex tokens, and a
    * chars/3.5 BPE-size estimate (oracle-checked).
    */
  private def tokens(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]")).cast("long")
          .as("re_tokens"),
        ceil(length(col("text")).cast("double") / 3.5).cast("long").as("bpe_est"))
      .orderBy(col("doc_id"))

  /** Language ID: stopword-hit scoring per candidate language, argmax with
    * deterministic tie-break (lexicographic). Rows-only (heuristic op).
    */
  private def langid(s: SparkSession, d: String): DataFrame = {
    val scoreCols = stops.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"struct(-size(filter(ws, w -> w IN ${inList(ws)})) AS neg, '$lang' AS lang)"
    }
    T.documents(s, d)
      .withColumn("ws", words(col("text")))
      .withColumn("best", expr(s"array_sort(array(${scoreCols.mkString(", ")}))[0]"))
      .select(
        col("doc_id"), col("lang"),
        col("best.lang").as("pred_lang"),
        round((-col("best.neg")).cast("double") / size(col("ws")), 6).as("conf"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting by winnowing: word-3-gram hashes (md5 —
    * engine-portable, so the whole sketch is DuckDB-oracle-checked),
    * window-of-4 minima, distinct minima = fingerprint sketch. Row-local
    * and linear per document.
    */
  private def fingerprint(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("w", words(col("text")))
      // try_element_at (1-based), NOT w[i]: a short document's
      // subscripts run past the array end, which under Spark 4's
      // default ANSI mode THROWS (INVALID_ARRAY_INDEX) — the DuckDB
      // oracle's 1-based w[i] yields NULL there and concat_ws skips it,
      // and try_element_at restores exactly those semantics
      .withColumn("sh", expr(
        """transform(sequence(0, greatest(size(w) - 3, 0)), i ->
          |  md5(concat_ws(' ', try_element_at(w, i+1),
          |    try_element_at(w, i+2), try_element_at(w, i+3))))""".stripMargin))
      .withColumn("fps", expr(
        """array_distinct(transform(sequence(0, greatest(size(sh) - 4, 0)), i ->
          |  least(coalesce(try_element_at(sh, i+1), 'zz'),
          |        coalesce(try_element_at(sh, i+2), 'zz'),
          |        coalesce(try_element_at(sh, i+3), 'zz'),
          |        coalesce(try_element_at(sh, i+4), 'zz'))))""".stripMargin))
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("min_fp"),
        array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition metrics: duplicate word / bigram / trigram
    * fractions (1 - distinct/total), plus a composite `repetitive` flag.
    * Linear per document (distinct counts, no pairwise work) — the
    * cheap structural half of a repetition filter at 100 TB.
    */
  private def repetition(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("w", words(col("text")))
      // try_element_at: see fingerprint — short docs must not throw
      // under ANSI where the oracle's OOB subscripts yield NULL
      .withColumn("g2", expr(
        """transform(sequence(0, greatest(size(w) - 2, 0)), i ->
          |  concat_ws(' ', try_element_at(w, i+1),
          |    try_element_at(w, i+2)))""".stripMargin))
      .withColumn("g3", expr(
        """transform(sequence(0, greatest(size(w) - 3, 0)), i ->
          |  concat_ws(' ', try_element_at(w, i+1), try_element_at(w, i+2),
          |    try_element_at(w, i+3)))""".stripMargin))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        (lit(1.0) - size(array_distinct(col("w"))).cast("double") /
          nullif(size(col("w")), lit(0))).as("dup_word_ratio"),
        (lit(1.0) - size(array_distinct(col("g2"))).cast("double") /
          nullif(size(col("g2")), lit(0))).as("dup_bigram_ratio"),
        (lit(1.0) - size(array_distinct(col("g3"))).cast("double") /
          nullif(size(col("g3")), lit(0))).as("dup_trigram_ratio"))
      .withColumn("repetitive",
        col("dup_word_ratio") > 0.5 || col("dup_trigram_ratio") > 0.2)
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: the eval set is every 97th document; a
    * training document is contaminated if it shares ANY distinct word
    * 5-gram with any eval document. Shape at 100 TB: per-doc distinct
    * shingles (row-local) -> keyed equi-join against the (small,
    * broadcastable) eval shingle set -> per-doc hit count; the corpus
    * never self-joins.
    */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = T.documents(s, d).withColumn("w", words(col("text")))
    val grams = docs.select(col("doc_id"), explode(expr(
      """array_distinct(transform(sequence(0, greatest(size(w) - 5, 0)), i ->
        |  concat_ws(' ', try_element_at(w, i+1), try_element_at(w, i+2),
        |    try_element_at(w, i+3), try_element_at(w, i+4),
        |    try_element_at(w, i+5))))""".stripMargin)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % 97 === 0).select(col("g")).distinct()
    val hits = grams.filter(col("doc_id") % 97 =!= 0)
      .join(evalGrams, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", col("n_shared") >= 1)
      .orderBy(col("doc_id"))
  }

  /** Composite training-data pipeline stage: quality gate -> exact dedup
    * (keep lowest doc_id per normalized text) -> surviving corpus. The
    * shape a 100 TB pre-training cleanup runs: row-local filters first
    * (shrink before any shuffle), then one hash-partitioned dedup.
    */
  private def pipeline(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .withColumn("ws", words(col("text")))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
          nullif(length(col("text")), lit(0)))
      .filter(col("n_words") >= 30 && col("alpha_ratio") >= 0.7)
      .groupBy(md5(normText(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"),
        max(col("n_words")).as("n_words"))
      .select(col("keep_id"), col("n_copies"), col("n_words"))
      .orderBy(col("keep_id"))

  /** PII scrub: email / phone / IPv4 redaction via sequential
    * regexp_replace — the standard pre-training privacy pass. Row-local
    * (no shuffle at any scale). The synthetic corpus carries no PII, so
    * the query plants deterministic PII per doc first and then scrubs
    * it; the oracle performs the identical plant+scrub, verifying the
    * redaction rules themselves (patterns are restricted to syntax Java
    * regex and DuckDB's RE2 interpret identically).
    */
  private def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com tel 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" host 10.0."), (col("doc_id") % 200).cast("string"), lit(".7 end"))
    val scrubbed =
      regexp_replace(
        regexp_replace(
          regexp_replace(planted,
            "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
          "[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
        "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>")
    T.documents(s, d)
      .select(col("doc_id"), scrubbed.as("clean"))
      .withColumn("n_redacted",
        (size(split(col("clean"), "<EMAIL>|<PHONE>|<IP>")) - 1).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Paragraph/sentence-level dedup stats (the CCNet/C4 pipeline step
    * that removes boilerplate repeated ACROSS documents): split each doc
    * into sentences, normalize, count global occurrences of each
    * sentence, and report per document how many of its sentences are
    * shared with at least one other document. Shape at 100 TB: explode
    * (pipelined in the scan), ONE keyed shuffle to count sentence
    * occurrences, one join back on the sentence hash — the corpus never
    * self-joins.
    */
  private def sentenceDedup(s: SparkSession, d: String): DataFrame = {
    val sents = T.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), "\\. ")).as("sent"))
      .select(col("doc_id"),
        lower(trim(col("sent"))).as("ns"))
      .filter(length(col("ns")) >= 20) // ignore trivial fragments
    val counts = sents.groupBy(col("ns"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    sents.join(counts, "ns")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sents"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac",
        col("n_shared").cast("double") / col("n_sents"))
      .orderBy(col("doc_id"))
  }

  /** C4/CCNet boilerplate REMOVAL (the rewrite the stats above inform):
    * drop every text span that occurs verbatim in more than one
    * document (nav bars, cookie banners, license footers), reassemble
    * each doc's surviving spans in original order. The span unit is a
    * non-overlapping 5-word window — this corpus carries no sentence
    * punctuation, so the fixed window stands in for C4's line unit; the
    * pipeline shape is identical either way. Scale shape mirrors
    * [[sentenceDedup]]: explode pipelined in the scan, ONE keyed
    * shuffle to count span occurrences, one join back, one per-doc
    * aggregation — the corpus never self-joins and there is no
    * driver-side state. collect_list skips the nulls the CASE leaves
    * behind; array_sort on (grp, span) structs restores document order
    * deterministically.
    */
  private def spanScrub(s: SparkSession, d: String): DataFrame = {
    val spans = T.documents(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "wd")
      .groupBy(col("doc_id"), (col("pos") / 5).cast("long").as("grp"))
      .agg(concat_ws(" ",
        expr("transform(array_sort(collect_list(struct(pos, wd))), x -> x.wd)"))
        .as("span"))
      // feeds the dup count AND the join's left side — materialize once
      // (scan + explode + span-assembly shuffle would otherwise run twice)
      .localCheckpoint()
    val dups = spans
      .groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > 1)
      .select(col("span"), lit(1).as("dup"))
    spans.join(dups, Seq("span"), "left")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ",
          expr("transform(array_sort(collect_list(" +
            "CASE WHEN dup IS NULL THEN struct(grp, span) END)), x -> x.span)"))
          .as("clean"),
        count(lit(1)).as("n_spans"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking (the FastCDC/rsync idea at word
    * granularity) + cross-document chunk dedup stats: a chunk boundary
    * falls after any word whose trailing 4-gram hashes to 0 mod 16
    * (portable md5 gear hash → expected ~16-word chunks), so boundaries
    * are a pure function of LOCAL content. That is the property that
    * makes CDC the production sub-document dedup unit: inserting one
    * word shifts every fixed-window span ([[spanScrub]]'s unit) but
    * re-synchronizes CDC boundaries within one chunk, so shared
    * boilerplate keeps deduping across edited documents. Plan shape:
    * explode pipelined in the scan, ONE shuffle on doc_id whose sort
    * feeds the 4-gram lags, the boundary running-sum AND the chunk
    * assembly (a single window partitioning, reused), one keyed
    * occurrence count on chunk signature, one join back. No self-join,
    * no driver state — [[sentenceDedup]]'s scale contract with a
    * content-defined unit.
    */
  private def cdcChunk(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = T.documents(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "wd")
    val chunks = words
      .withColumn("g4", concat_ws(" ",
        lag(col("wd"), 3).over(w), lag(col("wd"), 2).over(w),
        lag(col("wd"), 1).over(w), col("wd")))
      .withColumn("bflag",
        when(col("pos") >= 3 &&
          conv(substring(md5(col("g4")), 1, 8), 16, 10).cast("long") % 16 === 0,
          1L).otherwise(0L))
      // a boundary word ENDS its chunk: the next word starts a new one
      .withColumn("chunk_idx", coalesce(
        sum(col("bflag")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(pos, wd))), x -> x.wd)")))
          .as("sig"))
      .localCheckpoint() // feeds the dup count AND the join-back once
    val dups = chunks.groupBy(col("sig"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1)
      .select(col("sig"), lit(1).as("dup"))
    chunks.join(dups, Seq("sig"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup").isNotNull, 1L).otherwise(0L)).as("n_shared_chunks"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-LM novelty scoring (the perplexity-filter shape from
    * CCNet-style quality pipelines, kept in INTEGER arithmetic so the
    * oracle hashes bit-exactly): corpus-wide bigram frequencies, then
    * per doc the count of bigrams rarer than the corpus mean frequency.
    * Two shuffles — one keyed count over bigrams, one join back — and
    * the frequency table is the only broadcast-sized side. A real LM
    * filter swaps the mean-frequency test for a log-probability sum;
    * the data flow (corpus statistics pass → per-doc join-back score)
    * is identical, and that flow is what has to scale.
    */
  private def lmNovelty(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = T.documents(s, d)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .toDF("doc_id", "pos", "wd")
      .withColumn("bg", concat_ws(" ", lag(col("wd"), 1).over(w), col("wd")))
      .filter(col("pos") >= 1)
      .select(col("doc_id"), col("bg"))
    val freq = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("f"))
    // integer threshold: floor of corpus mean bigram frequency —
    // EXPLICIT floor on both engines (Spark's long cast truncates
    // toward zero, DuckDB's CAST ... AS BIGINT rounds half away: they
    // disagree whenever the mean's fraction lands >= .5)
    val thr = freq.agg(
      floor(sum(col("f")) / count(lit(1))).cast("long").as("thr"))
    bigrams.join(freq, "bg")
      .crossJoin(broadcast(thr))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("f") < col("thr"), 1L).otherwise(0L)).as("n_rare"),
        countDistinct(col("bg")).as("n_distinct"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget sequence packing (training-shard assignment): greedy-fill
    * shards of <= `Budget` whitespace tokens, walking doc_id order inside
    * contiguous `Span`-doc groups. The group bound is the scale contract:
    * ONE shuffle on the group key, every group holds <= Span docs, so the
    * per-group greedy walk is O(Span) memory regardless of corpus size —
    * at 100 TB the packing runs as ~|corpus|/Span independent tasks (the
    * same local-greedy compromise production packers make; a single global
    * sequential pack is inherently unparallelizable). A doc larger than
    * the budget gets a singleton shard; shard ids restart per group, so
    * (grp, shard) is the global shard key.
    */
  private val Span = 64L
  private val Budget = 2048L
  private def pack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    T.documents(s, d)
      .select(col("doc_id").cast("long"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      .as[(Long, Long)]
      .groupByKey(_._1 / Span)
      .flatMapGroups { (grp, it) =>
        val docs = it.toArray.sortBy(_._1)
        var shard = 0L
        var acc = 0L
        docs.iterator.zipWithIndex.map { case ((id, tk), i) =>
          if (i == 0) { shard = 0L; acc = tk }
          else if (acc + tk > Budget) { shard += 1; acc = tk }
          else acc += tk
          (id, tk, grp, shard)
        }
      }
      .toDF("doc_id", "tokens", "grp", "shard")
      .orderBy(col("doc_id"))
  }

  /** Data-mixture reweighting (domain balancing for pretraining): per
    * source, its token share of the corpus and the resampling weight that
    * moves the mixture to a uniform-over-sources target (weight =
    * target_share / actual_share — >1 upsample, <1 downsample). Shape at
    * 100 TB: one map-side-combined groupBy to per-source totals (|sources|
    * rows), then window arithmetic over that tiny aggregate — corpus is
    * touched exactly once.
    */
  private def domainMix(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    T.documents(s, d)
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(w))
      .withColumn("weight",
        (lit(1.0) / count(lit(1)).over(w)) / col("token_share"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("weight"))
      .orderBy(col("source"))
  }

  /** Token-budget mixture FILL — the step after [[domainMix]]'s
    * weights: per source, keep the deterministic doc_id-ordered prefix
    * whose cumulative tokens fit that source's budget (25% of its
    * total here — the knob a mixture config sets per source). This is
    * how a pretraining mix is actually assembled: "N tokens of web,
    * M of code" becomes a reproducible document subset. Shape at
    * 100 TB: one per-source window cumsum (a single keyed shuffle) +
    * a |sources|-row broadcast of the budgets — the corpus is touched
    * once, nothing collected.
    */
  private def mixBudget(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the per-source cumsum is TWO-PASS CHUNKED, not one window per
    // source: partitionBy(source) alone would put a billion-doc source
    // on one reducer. Chunk = doc_id div C (monotone in doc_id, so
    // chunk-asc-then-doc-asc IS doc-asc and the math is unchanged):
    // pass 1 windows within (source, chunk) — every partition ≤ C
    // rows — pass 2 windows the tiny (source, chunk) totals table for
    // running offsets; cum = offset + within-chunk cumsum.
    val chunkDocs = 1L << 20
    val toks = T.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("tokens"))
      // integer div, not floor-of-double-division: doc ids past 2^53
      // would misbucket under double rounding
      .withColumn("chunk", expr(s"doc_id div $chunkDocs"))
      .localCheckpoint() // feeds both passes + the budgets aggregate
    val wIn = Window.partitionBy(col("source"), col("chunk"))
      .orderBy(col("doc_id"))
    val wOff = Window.partitionBy(col("source")).orderBy(col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy(col("source"), col("chunk"))
      .agg(sum(col("tokens")).as("ct"))
      .withColumn("off", coalesce(sum(col("ct")).over(wOff), lit(0L)))
      .select(col("source"), col("chunk"), col("off"))
    val budgets = toks.groupBy(col("source"))
      .agg(ceil(sum(col("tokens")) * 0.25).cast("long").as("budget"))
    toks
      .withColumn("cum_in", sum(col("tokens")).over(wIn))
      .join(offsets, Seq("source", "chunk")) // N/C rows — keyed join
      .withColumn("cum_tokens", col("off") + col("cum_in"))
      .join(broadcast(budgets), Seq("source"))
      .filter(col("cum_tokens") <= col("budget"))
      .select(col("doc_id"), col("source"), col("tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Distinct-word frequency table — the ONE corpus-linear pass
    * distributed BPE training makes. Everything after it (pair
    * counting, merge rounds) runs on this VOCABULARY-sized table, so a
    * 100-TB corpus is read exactly once and the iterative part scales
    * with |vocab| · avg word length, not corpus bytes. Tokenization
    * matches the rest of the tx pack: lowercase, split on whitespace.
    */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    T.documents(s, d)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2) // 1-char words carry no pairs
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** BPE pair-count kernel (the gate): frequency of every adjacent
    * CHARACTER pair over all word occurrences — the round-0 merge
    * statistic a BPE tokenizer trainer computes, and the aggregate
    * every later round repeats on merged symbols. Counted as
    * Σ freq(word) · pairs(word) over the distinct-word table (numbers
    * identical to counting raw occurrences — the oracle does that).
    * One keyed shuffle on the pair, map-side combined; top-100 with a
    * deterministic (cnt desc, pair) tie-break so the gate is
    * hash-exact.
    */
  private def bpePairs(s: SparkSession, d: String): DataFrame =
    bpeWords(s, d)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(100)

  /** One learned merge: at `rank`, `(a, b)` was the most frequent
    * adjacent symbol pair (`cnt` weighted occurrences).
    */
  final case class BpeMerge(rank: Int, a: String, b: String, cnt: Long)

  /** Distributed BPE tokenizer TRAINING — the tokenizer-prep step a
    * training-data pipeline runs over its own corpus before anything
    * tokenizes. Classic algorithm (Sennrich et al. 2016,
    * arXiv:1508.07909), re-expressed in Spark's execution model:
    *
    *  - the corpus is read ONCE into [[bpeWords]] (distinct word →
    *    freq); every merge round after that is vocabulary-sized.
    *  - each round = one keyed aggregate (adjacent-pair counts, map-side
    *    combined, deterministic (cnt, a, b) argmax — a 1-row collect)
    *    plus one row-local `aggregate` HOF pass that merges the chosen
    *    pair left-to-right non-overlapping in every word's symbol
    *    array. No round touches corpus bytes; nothing but the 1-row
    *    argmax and the K-row merge table ever reaches the driver (the
    *    merge table IS the model — K rows by construction, the same
    *    driver-sized-model rule the k-means trainers follow).
    *  - words reduced to one symbol drop out of the working set (they
    *    can never merge again), so rounds shrink as training converges.
    *
    * Returns the rank-ordered merge table; stops early when no pair is
    * left. The inference half is `graft_bpe_encode`
    * ([[graft.functions.BpeEncode]]) — apply the ranks to any word
    * column via [[bpeMergesLit]].
    */
  def bpeTrain(s: SparkSession, d: String, merges: Int): Seq[BpeMerge] = {
    require(merges > 0, "merges must be positive")
    val out = scala.collection.mutable.Buffer[BpeMerge]()
    var cur = bpeWords(s, d)
      .select(split(col("word"), "").as("syms"), col("freq"))
      .localCheckpoint()
    var rank = 0
    var done = false
    while (rank < merges && !done) {
      val top = cur
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "i -> struct(syms[i] AS a, syms[i + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += BpeMerge(rank, a, b, cnt)
        // merge (a,b) → a+b left-to-right non-overlapping: a fold with
        // a one-symbol lookbehind (`pend` awaits a possible merge).
        // Built with the Column API, not an expr() string — symbols
        // come from corpus text and must never be spliced into SQL.
        val al = lit(a); val bl = lit(b); val ab = lit(a + b)
        val merged = aggregate(
          col("syms"),
          struct(array().cast("array<string>").as("acc"),
            lit(null).cast("string").as("pend")),
          (st, x) => when(st.getField("pend").isNull,
            struct(st.getField("acc").as("acc"), x.as("pend")))
            .when(st.getField("pend") === al && x === bl,
              struct(concat(st.getField("acc"), array(ab)).as("acc"),
                lit(null).cast("string").as("pend")))
            .otherwise(
              struct(concat(st.getField("acc"),
                array(st.getField("pend"))).as("acc"), x.as("pend"))),
          st => when(st.getField("pend").isNull, st.getField("acc"))
            .otherwise(concat(st.getField("acc"),
              array(st.getField("pend")))))
        cur = cur.select(merged.as("syms"), col("freq"))
          .filter(size(col("syms")) >= 2) // fully-merged words retire
          .localCheckpoint()
        rank += 1
      }
    }
    out.toSeq
  }

  /** The trained merge table as a foldable literal column — the shape
    * [[graft.functions.HashExpressions.bpeEncodeNative]] /
    * `graft_bpe_encode` take the model in. Right for the K ≤ a few
    * thousand merges this trainer targets; a production-vocab model
    * (32k+ merges) should instead ride a one-row model DataFrame
    * broadcast-joined onto the corpus — the expression takes any
    * `array<array<string>>` column, not just a literal.
    */
  def bpeMergesLit(merges: Seq[BpeMerge]): org.apache.spark.sql.Column =
    if (merges.isEmpty) array().cast("array<array<string>>")
    else array(merges.sortBy(_.rank).map(m => array(lit(m.a), lit(m.b))): _*)

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Lucene
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf, k1=1.2, b=0.75) — the LEXICAL
    * retrieval baseline next to the ANN stack; a training-data
    * pipeline runs exactly this for targeted corpus slicing ("find the
    * docs about X") and hybrid keyword+vector retrieval. Shape at
    * 100 TB: tf and doc-length are ONE keyed aggregate each over the
    * exploded corpus, df is vocabulary-sized, the query-term table is
    * tiny and broadcast — scoring touches only the postings of the
    * query terms (a keyed join), never corpus × corpus.
    *
    * Queries are derived deterministically from the corpus itself:
    * the alphabetically-first 15 words with df ≥ 5 (hapax noise
    * dropped; this corpus's ~31-word shared vocabulary is the
    * documented dense-vocab worst case, so a mid-frequency band would
    * select nothing — the gate's point is scoring correctness),
    * grouped in threes → 5 three-term queries. Per-term contributions
    * round to
    * 6dp then sum as DECIMAL (order-independent, bit-exact across
    * engines — the money-sum trick); top-10 docs per query,
    * (score desc, doc_id) tie-break, hash-exact against DuckDB.
    */
  private def bm25(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // deliberately NOT checkpointed: words is the EXPLODED corpus and
    // tf is doc×word — materializing either is O(total tokens) at
    // 100 TB, while the extra traversals each re-run a column-pruned
    // pushed-down parquet scan + one keyed aggregate, the cheap path
    // at scale (the df/scoring reuse saves far less than the
    // materialization costs)
    val words = T.documents(s, d)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 1)
    val tf = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dl = words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val qw = Window.orderBy(col("word")) // 15 rows post-limit — driver-trivial
    val terms = dfreq.join(broadcast(stats), lit(true))
      .filter(col("df") >= 5)
      .orderBy(col("word")).limit(15)
      .withColumn("qid", ((row_number().over(qw) - 1) / 3).cast("long"))
      .select(col("qid"), col("word"), col("df"), col("n_docs"),
        col("avgdl"))
    val contrib = tf.join(broadcast(terms), Seq("word"))
      .join(dl, Seq("doc_id"))
      .select(col("qid"), col("doc_id"),
        round(
          log(lit(1.0) +
            (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * (lit(1.2) + 1.0)) /
            (col("tf") + lit(1.2) *
              (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl"))),
          6).cast("decimal(28,6)").as("c"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .orderBy(col("qid"), col("rank"))
  }

  val all: Seq[Q] = Seq(
    Q(
      "tx_bm25",
      """WITH w AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |w1 AS (SELECT doc_id, word FROM w WHERE len(word) >= 1),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM w1 GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
        |       FROM w1 GROUP BY doc_id),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
        |       FROM dl),
        |dfq AS (SELECT word, CAST(count(*) AS BIGINT) AS df
        |        FROM tf GROUP BY word),
        |t0 AS (SELECT word, df, n_docs, avgdl FROM dfq, st
        |       WHERE df >= 5 ORDER BY word LIMIT 15),
        |terms AS (SELECT word, df, n_docs, avgdl,
        |                 (row_number() OVER (ORDER BY word) - 1) // 3 AS qid
        |          FROM t0),
        |c AS (SELECT t.qid, tf.doc_id,
        |        CAST(round(ln(1.0 + (t.n_docs - t.df + 0.5) / (t.df + 0.5)) *
        |               (tf.tf * (1.2 + 1.0)) /
        |               (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / t.avgdl)), 6)
        |             AS DECIMAL(28,6)) AS c
        |      FROM tf JOIN terms t USING (word) JOIN dl USING (doc_id)),
        |sc AS (SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS score
        |       FROM c GROUP BY qid, doc_id)
        |SELECT qid, doc_id, score, rank FROM (
        |  SELECT qid, doc_id, score,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY score DESC, doc_id) AS rank
        |  FROM sc) WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin
    )(bm25),
    Q(
      "tx_bpe_pairs",
      """WITH w AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
        |  FROM documents),
        |w2 AS (SELECT word FROM w WHERE len(word) >= 2),
        |p AS (SELECT substr(word, CAST(pos AS INT), 2) AS pair FROM (
        |  SELECT word, unnest(generate_series(1, len(word) - 1)) AS pos
        |  FROM w2)),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |      FROM p GROUP BY pair)
        |SELECT pair, cnt FROM c
        |ORDER BY cnt DESC, pair LIMIT 100""".stripMargin
    )(bpePairs),
    Q(
      "tx_mix_budget",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |b AS (SELECT source, CAST(ceil(sum(tokens) * 0.25) AS BIGINT) AS budget
        |      FROM t GROUP BY source),
        |c AS (SELECT doc_id, source, tokens,
        |        CAST(sum(tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS cum_tokens
        |      FROM t)
        |SELECT c.doc_id, c.source, c.tokens, c.cum_tokens
        |FROM c JOIN b USING (source)
        |WHERE c.cum_tokens <= b.budget
        |ORDER BY c.doc_id""".stripMargin
    )(mixBudget),
    Q(
      "tx_domain_mix",
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
        |              AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |       CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER () AS token_share,
        |       (1.0 / count(*) OVER ()) /
        |         (CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER ()) AS weight
        |FROM per ORDER BY source""".stripMargin
    )(domainMix),
    Q(
      "tx_pack",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens,
        |         doc_id // 64 AS grp,
        |         row_number() OVER (PARTITION BY doc_id // 64 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT doc_id, tokens, grp, rn, CAST(0 AS BIGINT) AS shard, tokens AS acc
        |  FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.doc_id, t.tokens, t.grp, t.rn,
        |         CASE WHEN p.acc + t.tokens > 2048 THEN p.shard + 1 ELSE p.shard END,
        |         CASE WHEN p.acc + t.tokens > 2048 THEN t.tokens ELSE p.acc + t.tokens END
        |  FROM t JOIN pack p ON t.grp = p.grp AND t.rn = p.rn + 1)
        |SELECT doc_id, tokens, grp, shard FROM pack ORDER BY doc_id""".stripMargin
    )(pack),
    Q(
      "tx_cdc_chunk",
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(text), ' ')) AS wd,
        |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, pos, wd,
        |         CASE WHEN pos >= 4 AND
        |           CAST('0x' || substring(md5(concat_ws(' ',
        |             lag(wd, 3) OVER pw, lag(wd, 2) OVER pw,
        |             lag(wd, 1) OVER pw, wd)), 1, 8) AS BIGINT) % 16 = 0
        |         THEN 1 ELSE 0 END AS bflag
        |  FROM w WINDOW pw AS (PARTITION BY doc_id ORDER BY pos)),
        |c AS (
        |  SELECT doc_id, pos, wd,
        |         coalesce(sum(bflag) OVER (PARTITION BY doc_id ORDER BY pos
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
        |  FROM b),
        |chunks AS (
        |  SELECT doc_id, chunk_idx, count(*) AS n_tokens,
        |         md5(string_agg(wd, ' ' ORDER BY pos)) AS sig
        |  FROM c GROUP BY doc_id, chunk_idx),
        |dup AS (SELECT sig FROM chunks GROUP BY sig
        |        HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(CASE WHEN sig IN (SELECT sig FROM dup)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM chunks GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )(cdcChunk),
    Q(
      "tx_lm_novelty",
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(text), ' ')) AS wd,
        |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lag(wd, 1) OVER (PARTITION BY doc_id ORDER BY pos)
        |                   || ' ' || wd AS bg
        |  FROM w QUALIFY pos >= 2),
        |freq AS (SELECT bg, count(*) AS f FROM bg GROUP BY bg),
        |thr AS (SELECT CAST(FLOOR(sum(f) / count(*)) AS BIGINT) AS thr FROM freq)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN f < (SELECT thr FROM thr)
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(count(DISTINCT bg) AS BIGINT) AS n_distinct
        |FROM bg JOIN freq USING (bg)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )(lmNovelty),
    Q(
      "tx_span_scrub",
      """WITH w AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(text), ' ')) AS wd,
        |         unnest(generate_series(1, len(string_split(lower(text), ' ')))) AS pos
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, (pos - 1) // 5 AS grp,
        |         string_agg(wd, ' ' ORDER BY pos) AS span
        |  FROM w GROUP BY doc_id, (pos - 1) // 5),
        |dups AS (
        |  SELECT span FROM sp GROUP BY span HAVING count(DISTINCT doc_id) > 1)
        |SELECT doc_id,
        |       coalesce(string_agg(
        |         CASE WHEN span NOT IN (SELECT span FROM dups) THEN span END,
        |         ' ' ORDER BY grp), '') AS clean,
        |       count(*) AS n_spans,
        |       CAST(sum(CASE WHEN span IN (SELECT span FROM dups) THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_removed
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )(spanScrub),
    Q(
      "tx_sentence_dedup",
      """WITH sents AS (
        |  SELECT doc_id, lower(trim(sent)) AS ns
        |  FROM (SELECT doc_id, unnest(string_split_regex(text, '\. ')) AS sent
        |        FROM documents)
        |  WHERE length(lower(trim(sent))) >= 20),
        |counts AS (
        |  SELECT ns, count(DISTINCT doc_id) AS n_docs FROM sents GROUP BY ns)
        |SELECT s.doc_id, count(*) AS n_sents,
        |       CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS shared_frac
        |FROM sents s JOIN counts c USING (ns)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
    )(sentenceDedup),
    Q(
      "tx_pii_scrub",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com tel 555-123-' ||
        |        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |        ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7 end',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS clean,
        |  CAST(len(string_split_regex(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' contact user' || doc_id || '@example.com tel 555-123-' ||
        |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |          ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.7 end',
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '<EMAIL>|<PHONE>|<IP>')) - 1 AS BIGINT) AS n_redacted
        |FROM documents ORDER BY doc_id""".stripMargin
    )(piiScrub),
    Q(
      "tx_pipeline",
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words
        |  FROM documents
        |  WHERE len(string_split(lower(text), ' ')) >= 30
        |    AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / length(text) >= 0.7)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        |       max(n_words) AS n_words
        |FROM f
        |GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |ORDER BY keep_id""".stripMargin
    )(pipeline),
    Q(
      "tx_quality",
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS n_chars2,
        |       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        |       CAST(length(text) AS DOUBLE) / len(string_split(lower(text), ' ')) AS avg_word_len,
        |       CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
        |       CAST(len(list_filter(string_split(lower(text), ' '),
        |             w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'))) AS DOUBLE)
        |             / len(string_split(lower(text), ' ')) AS stop_ratio,
        |       0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text))
        |           + 0.3 * least(1.0, CAST(len(string_split(lower(text), ' ')) AS DOUBLE) / 100.0)
        |           + 0.3 * (1.0 - CAST(len(list_filter(string_split(lower(text), ' '),
        |                 w -> w IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'that', 'for'))) AS DOUBLE)
        |                 / len(string_split(lower(text), ' '))) AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin
    )(quality),
    Q(
      "tx_tokens",
      """SELECT doc_id,
        |       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens,
        |       CAST(ceil(CAST(length(text) AS DOUBLE) / 3.5) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin
    )(tokens),
    Q(
      "tx_langid",
      s"""WITH s2 AS (
         |  SELECT doc_id, lang,
         |    len(list_filter(ws, w -> w IN ${inList(stops("de"))})) AS s_de,
         |    len(list_filter(ws, w -> w IN ${inList(stops("en"))})) AS s_en,
         |    len(list_filter(ws, w -> w IN ${inList(stops("es"))})) AS s_es,
         |    len(list_filter(ws, w -> w IN ${inList(stops("fr"))})) AS s_fr,
         |    len(list_filter(ws, w -> w IN ${inList(stops("zh"))})) AS s_zh,
         |    len(ws) AS nw
         |  FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS ws FROM documents))
         |SELECT doc_id, lang,
         |  CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en'
         |       WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr'
         |       ELSE 'zh' END AS pred_lang,
         |  round(CAST(m AS DOUBLE) / nw, 6) AS conf
         |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m FROM s2)
         |ORDER BY doc_id""".stripMargin
    )(langid),
    Q(
      "tx_fingerprint",
      """WITH f AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, greatest(len(sh) - 4, 0) + 1), i ->
        |      least(coalesce(sh[i+1], 'zz'), coalesce(sh[i+2], 'zz'),
        |            coalesce(sh[i+3], 'zz'), coalesce(sh[i+4], 'zz')))) AS fps
        |  FROM (
        |    SELECT doc_id,
        |      list_transform(range(0, greatest(len(w) - 3, 0) + 1), i ->
        |        md5(concat_ws(' ', w[i+1], w[i+2], w[i+3]))) AS sh
        |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)))
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |       list_aggregate(fps, 'min') AS min_fp,
        |       list_aggregate(fps, 'max') AS max_fp
        |FROM f ORDER BY doc_id""".stripMargin
    )(fingerprint),
    Q(
      "tx_repetition",
      """WITH r AS (
        |  SELECT doc_id, w,
        |    list_transform(range(0, greatest(len(w) - 2, 0) + 1),
        |      i -> concat_ws(' ', w[i+1], w[i+2])) AS g2,
        |    list_transform(range(0, greatest(len(w) - 3, 0) + 1),
        |      i -> concat_ws(' ', w[i+1], w[i+2], w[i+3])) AS g3
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents))
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_ratio,
        |  1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_bigram_ratio,
        |  1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup_trigram_ratio,
        |  (1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) > 0.5 OR
        |  (1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)) > 0.2 AS repetitive
        |FROM r ORDER BY doc_id""".stripMargin
    )(repetition),
    Q(
      "tx_decontaminate",
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(w) - 5, 0) + 1),
        |    i -> concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4], w[i+5])))) AS g
        |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |hits AS (
        |  SELECT g.doc_id, count(*) AS n_shared
        |  FROM g JOIN ev USING (g) WHERE g.doc_id % 97 <> 0
        |  GROUP BY g.doc_id)
        |SELECT d.doc_id, coalesce(h.n_shared, 0) AS n_shared,
        |       coalesce(h.n_shared, 0) >= 1 AS contaminated
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id % 97 <> 0
        |ORDER BY d.doc_id""".stripMargin
    )(decontaminate),

    // ---- tx_split: deterministic train/val/test assignment ----------------
    // Hash-coin split (md5 of the doc key -> uniform [0,1) -> 90/5/5),
    // reported as a per-source stratification audit. The same coin trick
    // as q26's sampler, doing the other production job: split membership
    // must be a PURE FUNCTION of the row key — stable across engines,
    // retries, cluster sizes and reruns (an RNG split leaks val into
    // train on every recompute). Row-local + one small aggregate; no
    // shuffle before the 20-row audit group-by.
    Q(
      "tx_split",
      """WITH c AS (SELECT doc_id, source,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS coin
        |  FROM documents)
        |SELECT source,
        |       CASE WHEN coin < 0.90 THEN 'train'
        |            WHEN coin < 0.95 THEN 'val' ELSE 'test' END AS split,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(min(doc_id) AS BIGINT) AS min_doc,
        |       CAST(max(doc_id) AS BIGINT) AS max_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, split""".stripMargin
    ) { (s, d) =>
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint").cast("double") / 4294967296.0
      T.documents(s, d)
        .select(col("doc_id"), col("source"),
          when(coin < 0.90, "train").when(coin < 0.95, "val")
            .otherwise("test").as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("source"), col("split"))
    },

    // ---- tx_keyword: df-weighted top terms per document -------------------
    // TF-IDF-shaped keyword extraction with a transcendental-free idf
    // analog (tf * (N+1)/(df+1)) so both engines compute bit-identical
    // doubles from integer inputs — ln() could differ in the last ulp
    // across libm implementations and flip a rank. The canonical
    // distributed TF-IDF shape: one (doc, term) count, one term-keyed
    // document-frequency count, one term-keyed join (the |vocab|-sized df
    // table co-keys with the tf table — never a broadcast of the corpus),
    // one doc-keyed top-k window. Four keyed shuffles, each on a
    // different, well-distributed key; nothing is ever |docs|².
    Q(
      "tx_keyword",
      """WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        |           FROM documents),
        |w2 AS (SELECT doc_id, term FROM w WHERE term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tfc FROM w2 GROUP BY doc_id, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM w2 GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tfc, df.dfc,
        |             CAST(tf.tfc AS DOUBLE) * (n.n_docs + 1) / (df.dfc + 1) AS raw,
        |             row_number() OVER (
        |               PARTITION BY tf.doc_id
        |               ORDER BY CAST(tf.tfc AS DOUBLE) * (n.n_docs + 1) / (df.dfc + 1) DESC,
        |                        tf.term) AS rnk
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rank, term,
        |       CAST(tfc AS BIGINT) AS tf, CAST(dfc AS BIGINT) AS df,
        |       round(raw, 6) AS score
        |FROM s WHERE rnk <= 3 ORDER BY doc_id, rank""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val words = T.documents(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = words.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tfc"))
      // df from tf, not from a second explode pass: tf already holds one
      // row per (doc, term), so count(*) per term IS the document
      // frequency — halves the scan+explode work and replaces a
      // distinct-count with a plain count over the much smaller table
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("dfc"))
      val nDocs = T.documents(s, d).agg(count(lit(1)).cast("double").as("n_docs"))
      val raw = col("tfc").cast("double") * (col("n_docs") + 1) / (col("dfc") + 1)
      val w = Window.partitionBy(col("doc_id")).orderBy(raw.desc, col("term"))
      tf.join(df, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rank"), col("term"),
          col("tfc").cast("long").as("tf"), col("dfc").cast("long").as("df"),
          round(raw, 6).as("score"))
        .orderBy(col("doc_id"), col("rank"))
    }
  )
}
