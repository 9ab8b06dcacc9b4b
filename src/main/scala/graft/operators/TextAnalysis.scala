package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.artifacts.Persisted

/** Column builders (plus one whole-operator pipeline,
  * [[repetitionMetrics]]) for text analytics over a document corpus —
  * tokenize, shingle, quality-score, language-ID, fingerprint. All pure
  * `Column` expressions (whole-stage codegen, no UDFs), so they compose
  * into any plan and push down through Catalyst like built-ins.
  *
  * Numeric conventions match the DuckDB oracles: counts are exact integers,
  * every ratio is a double division of those integers in a fixed order.
  */
object TextAnalysis {

  /** Gopher-style repetition metrics: fraction of bigram positions covered
    * by the single most frequent bigram, and by any bigram occurring more
    * than once — the "fraction of characters in duplicate n-grams" family
    * of repetition filters, in integer basis points. Two hash aggregates
    * with map-side partials ((id, bigram) then id), no window, no per-doc
    * quadratic work — embarrassingly parallel at any corpus size. */
  def repetitionMetrics(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol),
      graft.functions.WordShingles
        .wordShingles(col(textCol), 2, distinct = false).as("bg"))
      .filter(size(col("bg")) >= 1)
    base.select(col(idCol), explode(col("bg")).as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("n"))
      .groupBy(col(idCol)).agg(
        sum(col("n")).as("n_bigrams"),
        max(col("n")).as("top_n"),
        sum(when(col("n") > 1, col("n")).otherwise(lit(0L))).as("dup_n"))
      .select(col(idCol), col("n_bigrams"),
        expr("top_n * 10000 DIV n_bigrams").as("top_bigram_bp"),
        expr("dup_n * 10000 DIV n_bigrams").as("dup_bigram_bp"))
  }

  /** Whitespace tokens (single-space convention of the corpus). */
  def words(text: Column): Column = split(text, " ")

  /** The corpus top-`k` vocabulary: (token, n), deterministic tie-break
    * (count desc, token asc). orderBy+limit is Spark's distributed
    * TakeOrdered — per-partition top-k, then merge. Shared by t07 (which
    * adds ranks) and t11 (OOV rate), so the two can never disagree on
    * what "the vocabulary" is. */
  def vocabTopK(docs: org.apache.spark.sql.DataFrame, textCol: String,
                k: Int): org.apache.spark.sql.DataFrame =
    tokenCounts(docs, textCol)
      .orderBy(col("n").desc, col("token").asc).limit(k)

  /** Corpus-wide (token, n) counts — the shared input of [[vocabTopK]]
    * (t07/t11) and the ranked variant (t07 via GroupTopK). */
  def tokenCounts(docs: org.apache.spark.sql.DataFrame,
                  textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(explode(words(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))

  // ---- BPE (byte-pair encoding: learn merges, apply as a tokenizer) -------
  //
  // The real learn-then-apply tokenizer stage of a training-data pipeline
  // (the sentencepiece/HuggingFace shape): train greedy merge rules on the
  // word-frequency table, then tokenize every document with them.
  //
  // REPRESENTATION IS THE CORRECTNESS TRICK: each symbol is wrapped in
  // its OWN delimiter pair ("hello" → ",h.,e.,l.,l.,o."), so one merge
  // rule (a,b)→ab is ONE literal string replace of ",a.,b." with ",ab.".
  // Both anchors matter: the leading "," means a token merely ENDING in
  // `a` can never false-match (",th.,e." does not contain ",h.,e."), and
  // because every token carries its own lead/trail delimiter, adjacent
  // matches share no characters — a single non-overlapping left-to-right
  // replace pass consumes exactly two complete token units per match and
  // IS the standard greedy leftmost application of that rule (",a.,b.,a.,b."
  // merges BOTH occurrences; ",a.,a.,a." merges only the leftmost of an
  // odd identical run — exactly the greedy pairing). Both engines (Java
  // String/UTF8String replace, DuckDB replace) share those replace
  // semantics, which is what makes the trained tokenizer fully
  // oracle-verifiable — training included.
  //
  // Scale shape: the fit reads only the top-`topWords` word-count rows
  // (distributed hash aggregate + TakeOrdered, then a BOUNDED collect —
  // the quality-classifier/DSIR fit pattern); application is scan-side
  // codegen (regexp word extraction + a literal replace chain), zero
  // shuffles, zero UDFs.

  /** One learned merge: `pair` = "a,b" (comma form), `merged` = "ab". */
  final case class BpeMerge(step: Int, pair: String, merged: String, count: Long)

  /** Train `merges` greedy BPE rules over the `topWords` most frequent
    * lowercase letter-run words (count desc, word asc tie-break; pair
    * argmax tie-break count desc, pair asc — both mirrored by the
    * oracle). */
  def bpeTrain(docs: DataFrame, textCol: String, topWords: Int,
               merges: Int): Seq[BpeMerge] = {
    val top = docs
      .select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(topWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var words = top.map { case (w, c) => (w.map(ch => s",$ch.").mkString, c) }
    val out = Seq.newBuilder[BpeMerge]
    var step = 1
    var dry = false
    while (step <= merges && !dry) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((w, c) <- words) {
        val toks = w.split("[.,]+").filter(_.nonEmpty)
        var j = 0
        while (j < toks.length - 1) {
          val key = toks(j) + "," + toks(j + 1)
          counts.update(key, counts.getOrElse(key, 0L) + c)
          j += 1
        }
      }
      if (counts.isEmpty) {
        // No adjacent pairs left (empty or degenerate corpus): stop
        // early with the rules learned so far — the real-trainer
        // convention, and what keeps a zero-doc partition runnable.
        dry = true
      } else {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(",", "")
        words = words.map { case (w, c) =>
          (w.replace("," + pair.replace(",", ".,") + ".", "," + merged + "."), c)
        }
        out += BpeMerge(step, pair, merged, cnt)
        step += 1
      }
    }
    out.result()
  }

  /** [[bpeTrain]] memoized in [[graft.artifacts.ArtifactStore]] — t25
    * reports the rules, t26 tokenizes with them; the fit runs once per
    * corpus and (topWords, merges). */
  def memoizedBpeMerges(docs: DataFrame, textCol: String, topWords: Int,
                        merges: Int, cacheKey: String): Seq[BpeMerge] =
    graft.artifacts.ArtifactStore.get("bpe_merges", docs.sparkSession, cacheKey,
        Seq(textCol, topWords, merges)) {
      bpeTrain(docs, textCol, topWords, merges)
    }

  /** Tokenize every document with learned merges: words → comma form →
    * the literal replace chain (one codegen'd expression, scan-side) →
    * token counts (= commas). Output: (idCol, n_words, n_tokens,
    * ratio_bp) where ratio_bp = 10000·n_tokens / n_chars (10000 = one
    * token per character, smaller = better compression; 0 for empty). */
  def bpeApply(docs: DataFrame, idCol: String, textCol: String,
               merges: Seq[BpeMerge]): DataFrame = {
    merges.foreach { m =>
      require(m.pair.matches("[a-z]+,[a-z]+") && m.merged.matches("[a-z]+"),
        s"unsafe merge literal: ${m.pair}")
    }
    // spaced("hello") = ",h.,e.,l.,l.,o."; each rule is one literal
    // replace of ",a.,b." with ",ab."; tokens = commas left after the
    // chain (one leading comma per token). All one codegen'd projection.
    val spaced = "regexp_replace(w, '(.)', ',$1.')"
    val chain = merges.foldLeft(spaced) { (acc, m) =>
      s"replace($acc, ',${m.pair.replace(",", ".,")}.', ',${m.merged}.')"
    }
    docs.selectExpr(
      idCol,
      s"regexp_extract_all(lower($textCol), '[a-z]+', 0) AS ws",
      s"cast(aggregate(transform(regexp_extract_all(lower($textCol), '[a-z]+', 0), w -> length(w)), 0, (a, x) -> a + x) as bigint) AS n_chars")
      .selectExpr(
        idCol,
        "cast(size(ws) as bigint) AS n_words",
        "n_chars",
        s"cast(aggregate(transform(ws, w -> length($chain) - length(replace($chain, ',', ''))), 0, (a, x) -> a + x) as bigint) AS n_tokens")
      .selectExpr(
        idCol, "n_words", "n_tokens",
        "cast(if(n_chars = 0, 0, cast(n_tokens * 10000 as bigint) div n_chars) as bigint) AS ratio_bp")
  }

  /** The corpus top-`k` word n-grams: (ngram, n, rank) with the same
    * deterministic tie-break as [[vocabTopK]] (count desc, ngram asc).
    * Shingling runs scan-side in the codegen'd
    * [[graft.functions.WordShingles]] expression (non-distinct: every
    * occurrence counts); counting is one hash aggregate with map-side
    * partials; the top-k is distributed TakeOrdered — the only data that
    * ever reaches one place is the k survivors. */
  def ngramTopK(docs: DataFrame, textCol: String, n: Int, k: Int): DataFrame =
    docs.select(explode(graft.functions.WordShingles
        .wordShingles(col(textCol), n, distinct = false)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc).limit(k)

  /** Distinct word 3-gram shingles; < 3 tokens → empty set. (Guarded with
    * `when` because Spark's `sequence(1, 0)` counts *down* while DuckDB's
    * `generate_series(1, 0)` is empty — the guard keeps both engines
    * identical.) */
  def shingles3(ws: Column): Column =
    when(size(ws) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(ws) - 2),
        i => concat_ws(" ", element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** Count of tokens present in `stop` (duplicates counted). */
  def stopwordCount(ws: Column, stop: Seq[String]): Column = {
    val stopArr = array(stop.map(lit): _*)
    size(filter(ws, w => array_contains(stopArr, w))).cast("long")
  }

  /** Heuristic quality score in [0,1]:
    * 0.5·uniq_ratio + 0.3·(1 − stop_ratio) + 0.2·min(tokens,100)/100. */
  def qualityScore(nTokens: Column, nUniq: Column, nStop: Column): Column = {
    val t = nTokens.cast("double")
    round(
      (nUniq.cast("double") / t) * 0.5 +
        (lit(1.0) - nStop.cast("double") / t) * 0.3 +
        (least(nTokens, lit(100L)).cast("double") / 100.0) * 0.2,
      4)
  }

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deliberately minimal — language ID at corpus scale is a
    * scoring pass, not a model. */
  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "is")
  val StopEs: Seq[String] = Seq("el", "la", "de", "los", "que", "y")
  val StopFr: Seq[String] = Seq("le", "les", "des", "et", "un", "une")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein")

  /** Language guess from stopword hit counts; ties resolve en>es>fr>de
    * (deterministic, mirrored in the oracle SQL). */
  def langGuess(en: Column, es: Column, fr: Column, de: Column): Column =
    when(en >= es && en >= fr && en >= de, lit("en"))
      .when(es >= fr && es >= de, lit("es"))
      .when(fr >= de, lit("fr"))
      .otherwise(lit("de"))

  /** Gopher/C4-style rule-based quality filter: keep/drop + the ordered
    * ','-joined list of violated rules. All thresholds compare in integer
    * arithmetic (cross-multiplied) — no FP division that could flip a
    * boundary doc between engines. Entirely per-row (no aggregation), so
    * it runs UNCHANGED on a streaming DataFrame — StreamingSpec proves
    * stream/batch equality. */
  def qualityFilter(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(idCol), words(col(textCol)).as("ws"))
    val st = base.select(
      col(idCol),
      size(col("ws")).cast("long").as("n_tokens"),
      aggregate(transform(col("ws"), w => length(w).cast("long")), lit(0L),
        (a, x) => a + x).as("sum_len"),
      stopwordCount(col("ws"), StopEn).as("n_stop"))
    st.select(col(idCol), col("n_tokens"),
        filter(array(
          when(col("n_tokens") < 20, lit("too_short")),
          when(col("n_tokens") > 2000, lit("too_long")),
          when(col("sum_len") * 100 < col("n_tokens") * 300 ||
               col("sum_len") * 100 > col("n_tokens") * 1000, lit("odd_token_len")),
          when(col("n_stop") * 10000 < col("n_tokens") * 100, lit("low_stopword"))),
          x => x.isNotNull).as("rs"))
      // ','-joined, not an array: oracle-checked outputs must be scalar
      // (the driver's row sort cannot order array cells).
      .select(col(idCol), col("n_tokens"),
        array_join(col("rs"), ",").as("reasons"),
        (size(col("rs")) === 0).as("keep"))
  }

  /** [[qualityFilter]]'s keep decision as a single scan-side Column —
    * identical rules, so a pipeline (p10) filters inline with ZERO extra
    * shuffles instead of semi-joining the report frame back onto the
    * corpus. Round6Spec asserts the two never drift. */
  def qualityKeep(textCol: Column): Column = {
    val ws = words(textCol)
    val nTokens = size(ws).cast("long")
    val sumLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val nStop = stopwordCount(ws, StopEn)
    !(nTokens < 20 || nTokens > 2000 ||
      sumLen * 100 < nTokens * 300 || sumLen * 100 > nTokens * 1000 ||
      nStop * 10000 < nTokens * 100)
  }

  /** [[qualityFilter]]'s ','-joined violated-rule list as a single
    * scan-side Column — identical rules and rule ORDER, so an admission
    * stage (p24) carries the verdict row-locally with ZERO extra
    * shuffles instead of stitching the report frame back with a join
    * (the [[qualityKeep]] discipline extended to the reason string;
    * Round19Spec asserts the two never drift). */
  def qualityReasons(textCol: Column): Column = {
    val ws = words(textCol)
    val nTokens = size(ws).cast("long")
    val sumLen = aggregate(transform(ws, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x)
    val nStop = stopwordCount(ws, StopEn)
    array_join(filter(array(
      when(nTokens < 20, lit("too_short")),
      when(nTokens > 2000, lit("too_long")),
      when(sumLen * 100 < nTokens * 300 ||
           sumLen * 100 > nTokens * 1000, lit("odd_token_len")),
      when(nStop * 10000 < nTokens * 100, lit("low_stopword"))),
      x => x.isNotNull), ",")
  }

  /** Character-diversity signals (t21) — the repetitive-garbage filter
    * every web-scale text pipeline runs before training (low-diversity
    * docs are binary spew, pad runs, or single-phrase spam). The classic
    * form is Shannon char entropy; this computes its exact-rational twin,
    * the Gini–Simpson index `1 − Σp²` (one minus the char collision
    * probability, the Rényi-2 monotone equivalent) — because Σp² is a
    * ratio of integers it carries the engine's integer-bp determinism
    * discipline where `ln` would put a libm last-ulp inside the oracle
    * hash (the [[keywordSalience]] rule).
    *
    * Plan shape for 100 TB: the whole computation is ROW-LOCAL — the
    * per-doc counts come from ONE compiled counting pass
    * ([[graft.functions.CharDiversityStats]]: an open-addressed
    * code-point table, O(|doc|) per row), so the operator adds ZERO
    * shuffles. (Round 11 shipped this as nested higher-order array
    * expressions — O(|alphabet|·|doc|) per row with CodegenFallback
    * interpretation, the bench's #2 query at 2.5 s/sf0.1; same values,
    * ~25× the CPU.) Overflow bound: `coll · 10⁴` with `coll ≤ n²` wraps
    * BIGINT only past n ≈ 3·10⁷ chars in one doc — chunk such docs
    * upstream (d08).
    *
    * Output: (id, n_chars, n_char_kinds, diversity_bp,
    * low_diversity = diversity_bp < floorBp). */
  def charDiversity(docs: DataFrame, idCol: String, textCol: String,
                    floorBp: Int = 5000): DataFrame = {
    val st = graft.functions.CharDiversityStats.charDiversityStats(col(textCol))
    docs.select(col(idCol), st.as("__st"))
      .filter(col("__st.n_chars") > 0)
      .select(col(idCol),
        col("__st.n_chars").as("n_chars"),
        col("__st.n_kinds").as("n_char_kinds"),
        col("__st.coll").as("__coll"))
      .select(col(idCol), col("n_chars"), col("n_char_kinds"),
        expr("10000 - __coll * 10000 DIV (n_chars * n_chars)").as("diversity_bp"))
      .withColumn("low_diversity", col("diversity_bp") < floorBp)
  }

  /** Code-vs-prose signals (t22) — the source-code router of a mixed
    * web corpus (code goes to a code pipeline, prose to the text one;
    * published splits all gate on symbol/identifier surface statistics).
    * Token-level: a token is SYMBOLIC if fully non-alphanumeric
    * (`^[^a-z0-9]+$` — brackets, operators, punctuation runs), NUMERIC if
    * all digits; `sym_bp`/`num_bp` are their integer-bp rates and
    * `is_code = sym_bp >= symFloorBp` (code lines are operator-dense —
    * measured ~5800 bp on C-style tokens vs ~0 on the prose corpus, so
    * the default floor sits far from both populations).
    *
    * Row-local like [[charDiversity]]: the regex runs inside a
    * higher-order filter on the scan — no explode, no shuffle. */
  def codeSignals(docs: DataFrame, idCol: String, textCol: String,
                  symFloorBp: Int = 1500): DataFrame = {
    val ws = filter(words(col(textCol)), w => w =!= lit(""))
    docs.select(col(idCol), ws.as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        size(filter(col("__ws"), w => w.rlike("^[^a-z0-9]+$")))
          .cast("long").as("__sym"),
        size(filter(col("__ws"), w => w.rlike("^[0-9]+$")))
          .cast("long").as("__num"))
      .select(col(idCol), col("n_tokens"),
        expr("__sym * 10000 DIV n_tokens").as("sym_bp"),
        expr("__num * 10000 DIV n_tokens").as("num_bp"))
      .withColumn("is_code", col("sym_bp") >= symFloorBp)
  }

  /** The three PII surface patterns (t23) — deliberately SIMPLE regexes
    * that mean the same thing to Java's engine (Spark) and RE2 (DuckDB):
    * no backrefs, no lookaround, no \\b (word-boundary semantics differ at
    * string edges across engines). Shared literals so the engine and the
    * oracle can never drift. */
  val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiPhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction signals (t23) — the scrub stage every
    * published web-corpus pipeline runs before release (emails, phone
    * numbers, IP addresses): per-doc match counts, a `has_pii` route
    * flag, and the md5 of the REDACTED text (sequential replacement
    * email → phone → ip with typed placeholder tokens — the order is
    * part of the contract, since an IP can only match what the phone
    * pass left behind).
    *
    * Fully ROW-LOCAL (the t21/t22 convention): three regexp_count and a
    * three-deep regexp_replace chain on the scan, zero shuffles, and the
    * redacted text itself never leaves the row — only its digest does
    * (what a release audit table stores). */
  def piiSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        regexp_count(col(textCol), lit(PiiEmailRe)).cast("long").as("n_emails"),
        regexp_count(col(textCol), lit(PiiPhoneRe)).cast("long").as("n_phones"),
        regexp_count(col(textCol), lit(PiiIpRe)).cast("long").as("n_ips"),
        md5(regexp_replace(
          regexp_replace(
            regexp_replace(col(textCol), PiiEmailRe, "<EMAIL>"),
            PiiPhoneRe, "<PHONE>"),
          PiiIpRe, "<IP>")).as("redacted_md5"))
      .withColumn("has_pii",
        (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
      .select(col(idCol), col("n_emails"), col("n_phones"), col("n_ips"),
        col("has_pii"), col("redacted_md5"))

  /** Encoding-anomaly patterns (t24) — each a class/alternation of LITERAL
    * codepoints, so Java regex (Spark) and RE2 (DuckDB) agree exactly:
    *
    *  - [[MojibakeRe]]: the classic UTF-8-read-as-Latin-1 digraphs. A
    *    non-ASCII codepoint U+0080–U+07FF encodes as two UTF-8 bytes
    *    0xC2–0xDF then 0x80–0xBF; decoded as Latin-1 those bytes become
    *    the codepoints Â/Ã/â followed by a C1-or-punctuation codepoint —
    *    `Ã©` for é, `â€™` for the right single quote, `Â ` for NBSP
    *    (the mojibake catalogue ftfy documents). Three leading chars
    *    cover the overwhelmingly common Latin-1/Windows-1252 cases.
    *  - [[ReplacementRe]]: U+FFFD, what lossy decoding leaves behind.
    *  - [[CtrlRe]]: C0 controls except \t\n\r, plus DEL and the C1 block
    *    — raw controls in text mean a binary/encoding accident.
    */
  val MojibakeRe: String =
    "\u00c3[\u0080-\u00bf]|\u00e2\u0080[\u0080-\u00bf]|\u00c2[\u00a0-\u00bf]"
  val ReplacementRe: String = "\ufffd"
  val CtrlRe: String =
    "[\u0001-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f]"

  /** Encoding-anomaly detection (t24): per-doc counts of mojibake
    * digraphs, U+FFFD replacement chars and raw control chars, an
    * `is_suspect` route flag, and the md5 of the text with all anomalies
    * STRIPPED (the conservative ftfy-unavailable repair: drop, don't
    * guess). Fully ROW-LOCAL like t21–t23 — three regexp_count and one
    * regexp_replace on the scan, zero shuffles, only the digest leaves
    * the row. */
  def encodingSignals(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        regexp_count(col(textCol), lit(MojibakeRe)).cast("long").as("n_moji"),
        regexp_count(col(textCol), lit(ReplacementRe)).cast("long").as("n_repl"),
        regexp_count(col(textCol), lit(CtrlRe)).cast("long").as("n_ctrl"),
        md5(regexp_replace(col(textCol),
          s"$MojibakeRe|$ReplacementRe|$CtrlRe", "")).as("clean_md5"))
      .withColumn("is_suspect",
        (col("n_moji") + col("n_repl") + col("n_ctrl")) > 0)
      .select(col(idCol), col("n_moji"), col("n_repl"), col("n_ctrl"),
        col("is_suspect"), col("clean_md5"))

  /** Canonical text normalization for fingerprinting: lowercase, non-alnum →
    * space, collapse runs, trim. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Deterministic content fingerprint of the normalized text. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Per-doc top-`k` salient keywords by the integer tf·N/df score
    * (`salience_bp = tf × n_docs × 10000 DIV df`, rank ties broken by
    * token) — tf-idf-style keyword extraction with the log weighting
    * dropped in favor of an exact integer ratio, the engine's
    * cross-engine-determinism convention (transcendental `ln` is the one
    * place two engines' last-ulp can differ under rounding; an integer
    * DIV cannot).
    *
    * OVERFLOW BOUND: the naive product `tf × n_docs × 10000` wraps BIGINT
    * silently in Spark (and raises in DuckDB) long before the SCORE itself
    * does — at n_docs ~ 1e10 any tf ≥ ~9e4 overflows the intermediate. The
    * score is therefore computed by the exact division identity
    * `tf·(q·df + r) DIV df = tf·q + (tf·r) DIV df` where
    * `q = (n_docs·10⁴) DIV df`, `r = (n_docs·10⁴) MOD df`: every
    * intermediate is ≤ max(score, tf·df ≤ tf·n_docs), so the computation
    * overflows only when the score itself exceeds 2⁶³ (tf·n_docs·10⁴/df ≥
    * 2⁶³ — a df=1 token with tf ≥ 9e4 in a 1e10-doc corpus; cap tf or drop
    * hapaxes upstream if a corpus can reach that regime).
    *
    * Shapes for scale: tokenization is scan-side (codegen'd
    * WordShingles n=1, blank-filtered); tf and df are two hash aggregates
    * with map-side partials (df aggregates the already-reduced tf frame,
    * never raw tokens); the corpus size joins in as a broadcast scalar
    * FRAME (no driver collect); the per-doc rank tail is the bounded-heap
    * [[graft.plans.GroupTopK]] — k rows per doc per partition reach the
    * shuffle, never the full scored vocabulary. */
  def keywordSalience(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(graft.functions.WordShingles
        .wordShingles(col(textCol), 1, distinct = false)).as("token"))
    val tf = toks.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("token"),
        expr("""CAST(tf * ((n_docs * 10000) DIV df)
                     + (tf * ((n_docs * 10000) % df)) DIV df AS BIGINT)""")
          .as("salience_bp"))
    graft.plans.GroupTopK.topK(scored, Seq(idCol),
      Seq(col("salience_bp").desc, col("token")), k)
  }

  /** Seed-corpus overlap quality — the classifier-free "similarity to a
    * curated corpus" importance signal (the CCNet/GPT-3-style quality
    * filter without a trained model): score = fraction of a document's
    * distinct 3-gram shingles that also occur anywhere in a designated
    * high-quality SEED corpus, in integer basis points so every engine
    * agrees bit-for-bit. Gibberish and boilerplate share few shingles
    * with curated text; natural prose shares many.
    *
    * Shape at 100 TB: the seed gram table is built from the curated
    * subset (bounded — a wiki-sized seed, not the lake) and BROADCAST;
    * corpus shingles are computed scan-side by the codegen'd
    * [[graft.functions.WordShingles]] expression, the membership probe is
    * a map-side broadcast left join, and the per-doc ratio is one
    * hash aggregate whose map-side partials collapse each document's
    * grams before the shuffle (grams of a doc are co-located with the
    * doc) — shuffled rows ≈ one per document, never per gram. Documents
    * with fewer than 3 tokens have no shingles and are not emitted
    * (score undefined, not zero). */
  def seedOverlapScore(docs: DataFrame, idCol: String, textCol: String,
                       seedPred: Column): DataFrame =
    seedOverlapAgainst(docs, idCol, textCol,
      seedGramTable(docs.filter(seedPred), textCol))

  /** The distinct 3-gram shingle set of a seed corpus — the static,
    * broadcastable artifact [[seedOverlapAgainst]] and the streaming twin
    * ([[graft.streaming.EventStreams.seedScoreStream]]) probe. Built once
    * from the curated subset (bounded), like [[graft.operators.Sampling
    * .evalGramTable]] for decontamination. */
  def seedGramTable(seedDocs: DataFrame, textCol: String): DataFrame =
    seedDocs
      .select(explode(graft.functions.WordShingles
        .wordShingles(col(textCol), 3)).as("gram"))
      .distinct()

  /** [[seedOverlapScore]] against a pre-built seed gram table. The
    * distinct is re-applied here (cheap on the bounded seed side) so the
    * contract is self-enforcing: a duplicated gram row from a caller's
    * hand-built table would otherwise fan the left join out and inflate
    * ratios past 10000 bp. */
  def seedOverlapAgainst(docs: DataFrame, idCol: String, textCol: String,
                         seedGrams: DataFrame): DataFrame = {
    import graft.functions.WordShingles
    val seed = seedGrams.select(col("gram")).distinct().withColumn("hit", lit(1))
    docs
      .select(col(idCol), WordShingles.wordShingles(col(textCol), 3).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol), explode(col("__sh")).as("gram"))
      .join(broadcast(seed), Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("n_seed_grams"))
      .withColumn("overlap_bp",
        expr("CAST(n_seed_grams * 10000 DIV n_grams AS BIGINT)"))
  }

  /** Per-doc bigram language-model likelihood — the CCNet-style "train a
    * small LM on the corpus, score every document" quality signal, with
    * the probability kept in integer basis points so DuckDB reproduces it
    * bit-for-bit: `p_bp(w1 w2) = C(w1 w2) × 10000 DIV (C(w1) + V)`
    * (add-V smoothing in the denominator) and the doc score is the single
    * exact division mean(p_bp). Low scores = improbable token sequences
    * (gibberish, OCR noise); high = repetitive/formulaic text.
    *
    * The "model" is two hash aggregates over the corpus (bigram and
    * unigram counts) plus a broadcast vocab scalar — at 100 TB it is
    * built once offline like the other index artifacts and the scoring
    * pass is two shuffled equi-joins keyed on bigram/unigram (model
    * tables are vocab-bounded, far smaller than the corpus). Docs with
    * fewer than two (blank-filtered) tokens have no bigrams and are not
    * emitted. */
  def lmLikelihoodScore(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    import graft.functions.WordShingles
    val toks = docs.select(
      explode(WordShingles.wordShingles(col(textCol), 1, distinct = false))
        .as("token"))
    // vocab is a row count of the distinct-token aggregate — the previous
    // countDistinct over the raw token stream re-exploded the full corpus
    // into a distinct exchange for a number the uni aggregate already
    // knows. uni's chain is evaluated twice (vocab scalar + model join) —
    // both are aggregate-side passes over distinct tokens; deliberately
    // NOT checkpointed, because an eager materialization here would run a
    // synchronous job on every plan construction (Bench times the
    // operator per call, and the artifact convention prices one-time
    // builds in warmup_build, not per-query).
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("n1"))
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val docBigrams = docs.select(col(idCol),
      explode(WordShingles.wordShingles(col(textCol), 2, distinct = false))
        .as("bigram"))
    val bi = docBigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n2"))
    // Assemble the smoothed probability once per DISTINCT bigram (p_bp is
    // a function of the bigram alone), joining uni/vocab into the MODEL —
    // distinct-gram tables, Zipf-small next to the occurrence stream —
    // instead of into the stream. The occurrence stream then exchanges
    // exactly twice (the bigram equi-join + the map-side-combined doc
    // aggregate); the previous shape shuffled it a third time on w1,
    // which at corpus scale was a full extra pass over every token
    // occurrence (the 21 s of the 32x stress curve's worst op).
    val model = bi
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .join(uni.select(col("token").as("w1"), col("n1")), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("bigram"), expr("CAST(n2 * 10000 DIV (n1 + vocab) AS BIGINT)").as("p_bp"))
    docBigrams.join(model, Seq("bigram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(sum(col("p_bp")).cast("double") / count(lit(1)).cast("double"), 4)
          .as("lm_score_bp"))
  }

  /** t20: the C4 blocklist filter (Raffel et al. 2020 — the public
    * "bad words" page rule: DROP any document containing a blocklisted
    * token; C4 applied it with the open "List of Dirty, Naughty ..."
    * list). The blocklist is a caller-supplied one-column table —
    * bounded by nature (thousands of entries), BROADCAST, and probed by
    * the corpus tokens scan-side, the t15 seed-gram topology: shuffled
    * rows collapse to ≈ one per document in the final aggregate
    * (map-side partials), the corpus text never shuffles. Occurrences
    * are counted (duplicates included) so the output doubles as a
    * severity signal; `keep` is the C4 decision (zero hits). Docs with
    * no tokens keep (explode_outer — the op is a map of the corpus,
    * every doc emits exactly one row).
    *
    * Output: (idCol, n_tokens, n_flagged, keep). */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      blocklist: DataFrame,
                      wordCol: String = "word"): DataFrame = {
    import graft.functions.WordShingles
    val bl = broadcast(blocklist.select(col(wordCol).as("__w")).distinct()
      .withColumn("__hit", lit(1)))
    docs
      .select(col(idCol),
        WordShingles.wordShingles(col(textCol), 1, distinct = false).as("__ws"))
      .select(col(idCol), explode_outer(col("__ws")).as("__t"))
      .join(bl, col("__t") === col("__w"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__t")).as("n_tokens"),
        count(col("__hit")).as("n_flagged"))
      .withColumn("keep", col("n_flagged") === 0L)
  }

  /** t19: CCNet's perplexity bucketing (Wenzek et al. 2020) — split each
    * language's documents into head / middle / tail by LM-likelihood
    * tertiles (CCNet trains a KenLM per language and keeps the
    * lowest-perplexity third as "head"; here the LM is [[lmLikelihoodScore]]'s
    * bigram model, where HIGH score = probable text, so head is the TOP
    * tertile). The per-language cut points are exact percentiles of the
    * score distribution (the q38/t18 exact-percentile convention; at
    * 100 TB swap in approx_percentile and accept the q45-style band, or
    * compute cuts on a per-language sample — the bucketing is a
    * curriculum signal, not an exact-set contract), rounded to 4 like
    * every other score so engines agree at the boundary. Tertile
    * fractions are spelled as exact 8-digit literals (0.33333333D) so
    * both engines interpolate at the SAME rank — `1.0/3` would be a
    * decimal division with engine-specific scale.
    *
    * Plan shape: the scoring pass is t14's (vocab-bounded model joins +
    * one per-doc aggregate); the cut-point table is |languages| rows,
    * broadcast back; bucket assignment is a scan-side comparison. The
    * corpus shuffles only inside the scoring pass.
    *
    * Output: (idCol, langCol, n_bigrams, lm_score_bp, bucket) for every
    * doc with ≥ 2 tokens (the t14 emission contract). */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String): DataFrame = {
    // Materialized once (the justified-checkpoint pattern): both the cut
    // aggregate and the bucket join read this frame, and without it the
    // full t14 scoring chain — the expensive pass — would run twice.
    val scores = lmLikelihoodScore(docs, idCol, textCol)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .localCheckpoint()
    val cuts = scores.groupBy(col(langCol))
      .agg(round(expr("percentile(lm_score_bp, 0.33333333D)"), 4).as("__lo"),
        round(expr("percentile(lm_score_bp, 0.66666667D)"), 4).as("__hi"))
    scores.join(broadcast(cuts), Seq(langCol))
      .withColumn("bucket",
        when(col("lm_score_bp") >= col("__hi"), lit("head"))
          .when(col("lm_score_bp") >= col("__lo"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("n_bigrams"),
        col("lm_score_bp"), col("bucket"))
  }

  /** Per-doc positional "lines" — the d08 chunk convention (non-
    * overlapping `lineTokens`-word windows, the line analogue this
    * newline-free corpus supports): (idCol, line_idx, h) with h =
    * md5(space-joined window). Scan-side (codegen'd tokenize + slice);
    * shared by the boilerplate build and scrub halves so the two can
    * never drift on window geometry. */
  private[graft] def docLines(docs: DataFrame, idCol: String, textCol: String,
                              lineTokens: Int,
                              extra: Seq[String] = Nil): DataFrame = {
    val c = lineTokens
    val keep = (idCol +: extra).map(col)
    docs
      .select(keep :+ graft.functions.WordShingles
        .wordShingles(col(textCol), 1, distinct = false).as("ws"): _*)
      .filter(size(col("ws")) >= 1)
      .select(keep :+ posexplode(expr(
        s"transform(sequence(0, (size(ws)-1) DIV $c), " +
          s"i -> array_join(slice(ws, i*$c+1, $c), ' '))"))
        .as(Seq("line_idx", "line")): _*)
  }

  /** The standing boilerplate artifact: md5 hashes of every "line" whose
    * DOCUMENT frequency reaches `minDocs` — nav bars, cookie banners,
    * license headers; the lines RefinedWeb/CCNet-style curation cuts
    * from EVERY document (unlike d08's chunk dedup and d16's span
    * apply, which keep the first copy — boilerplate's first copy is
    * still noise). One hash aggregate whose map-side partials collapse
    * per-partition repeats; the output is the corpus' repeated-line
    * set — small in practice and the equi-join side of every apply. */
  final case class BoilerplateLines(flagged: DataFrame, lineTokens: Int) {
    def save(dir: String): Unit =
      Persisted.save(dir, "boilerplate_lines", Map("line_tokens" -> lineTokens))(
        "boiler_flagged" -> flagged)
  }

  /** Load an artifact previously written with [[BoilerplateLines.save]]. */
  def loadBoilerplateLines(spark: org.apache.spark.sql.SparkSession,
                           dir: String): BoilerplateLines = {
    val p = Persisted.load(spark, dir, "boilerplate_lines")
    BoilerplateLines(p.frame("boiler_flagged"), p.int("line_tokens"))
  }

  def boilerplateLineTable(docs: DataFrame, idCol: String, textCol: String,
                           lineTokens: Int = 16,
                           minDocs: Int = 4): BoilerplateLines = {
    require(minDocs >= 2, s"minDocs < 2 would flag every line: $minDocs")
    // The window width rides IN the artifact (the LshVecIndex-density
    // principle): an apply at a different width would silently cut
    // nothing — geometry mismatches must be structurally impossible.
    BoilerplateLines(
      docLines(docs, idCol, textCol, lineTokens)
        .groupBy(md5(col("line")).as("h"))
        .agg(countDistinct(col(idCol)).as("df"))
        .filter(col("df") >= minDocs)
        .select(col("h")),
      lineTokens)
  }

  /** Cut every flagged line from every document and rebuild the text in
    * line order: (idCol, n_lines, n_cut_lines, clean_text). The probe is
    * a left join on the line hash (AQE broadcasts the flagged table when
    * it is small — the expected regime); the rebuild is one per-doc
    * aggregate (sort_array over (line_idx, line) structs — per-doc
    * state, never a window over the corpus). Docs whose every line is
    * boilerplate survive with empty clean_text, so the op composes as a
    * map of the corpus, not a filter. */
  def scrubBoilerplateAgainst(docs: DataFrame, idCol: String, textCol: String,
                              idx: BoilerplateLines): DataFrame = {
    val flag = idx.flagged.select(col("h")).distinct().withColumn("cut", lit(1))
    docLines(docs, idCol, textCol, idx.lineTokens)
      .withColumn("h", md5(col("line")))
      .join(flag, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("cut")).as("n_cut_lines"),
        array_join(transform(
          sort_array(collect_list(when(col("cut").isNull,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("clean_text"))
  }

  /** [[boilerplateLineTable]] + [[scrubBoilerplateAgainst]] over the same
    * corpus — the one-shot batch form (the build/apply split exists for
    * the ingest twins, where the table is the standing artifact). */
  def scrubBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       lineTokens: Int = 16, minDocs: Int = 4): DataFrame =
    scrubBoilerplateAgainst(docs, idCol, textCol,
      boilerplateLineTable(docs, idCol, textCol, lineTokens, minDocs))

  // ---- t17: seed-vs-raw quality classifier ------------------------------

  /** The trained quality-classifier artifact (the GPT-3/PaLM "WebText
    * classifier" recipe, public method description: a linear classifier
    * on hashed n-gram features, positives = the curated seed corpus,
    * negatives = raw web text; documents are kept in proportion to the
    * classifier's score). Weights are a DENSE `buckets`-element
    * driver-side vector like [[graft.operators.Sampling.DsirModel]] —
    * the form the scoring kernel binds, so a probe runs no job; geometry
    * rides in the artifact, parquet save/load of the (bucket, w) frame
    * view for the offline cycle. */
  final case class QualityClassifier(weights: Array[Double], bias: Double,
                                     buckets: Int) {
    require(weights.length == buckets,
      s"a classifier over $buckets buckets needs $buckets weights, got ${weights.length}")

    /** The (bucket, w) frame form: what [[save]] writes. */
    def table(spark: org.apache.spark.sql.SparkSession): DataFrame =
      graft.functions.BucketWeightSum.weightTable(spark, weights, "w")

    def save(dir: String): Unit =
      Persisted.save(dir, "quality_clf", Map("bias" -> bias, "buckets" -> buckets))(
        "qc_weights" -> table(org.apache.spark.sql.SparkSession.active))
  }

  /** Load a classifier previously written with [[QualityClassifier.save]]:
    * one collect of the saved `buckets`-row frame, checked
    * bucket-complete. */
  def loadQualityClassifier(spark: org.apache.spark.sql.SparkSession,
                            dir: String): QualityClassifier = {
    val p = Persisted.load(spark, dir, "quality_clf")
    val buckets = p.int("buckets")
    QualityClassifier(graft.functions.BucketWeightSum
      .collectWeights(p.frame("qc_weights"), "bucket", "w", buckets),
      p.double("bias"), buckets)
  }

  /** Deterministic full-batch gradient-descent logistic regression over
    * sparse (featureIdx, value) rows — driver-local like
    * [[graft.operators.SimilaritySearch.localKMeans]] and for the same
    * reason: the fit input is a BOUNDED sample by contract, at which
    * size a local fit is milliseconds and fully reproducible (zero-init,
    * fixed iteration order, no RNG at all). Returns (weights, bias). */
  private[graft] def localLogReg(
      xs: Array[(Array[(Int, Double)], Double)], dim: Int,
      iters: Int = 100, lr: Double = 0.5): (Array[Double], Double) = {
    val w = new Array[Double](dim)
    var b = 0.0
    val n = xs.length
    if (n == 0) return (w, b)
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](dim)
      var gb = 0.0
      var i = 0
      while (i < n) {
        val (x, y) = xs(i)
        var z = b
        var j = 0
        while (j < x.length) { z += x(j)._2 * w(x(j)._1); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = p - y
        j = 0
        while (j < x.length) { gw(x(j)._1) += g * x(j)._2; j += 1 }
        gb += g
        i += 1
      }
      var k = 0
      while (k < dim) { w(k) -= lr / n * gw(k); k += 1 }
      b -= lr / n * gb
      it += 1
    }
    (w, b)
  }

  /** Train the [[QualityClassifier]]: per-doc hashed-ngram term-frequency
    * vectors (the [[graft.operators.Sampling.dsirGrams]] feature
    * geometry — unigram+bigram multisets over `buckets` md5 buckets,
    * shared with p17 so the two selection recipes can never drift on
    * features), label 1 for seed docs and 0 for the rest, one bounded
    * collect, then a driver-local deterministic logistic fit. The fit
    * input is the `sampleMod` hash-sample (the localKMeans discipline;
    * an unbounded sample fails loudly).
    *
    * The fit is one job with one shuffle: the documents are hashed by id
    * before their grams exist, so the per-(doc, bucket) count and the
    * per-doc feature list both aggregate inside that exchange's
    * partitions, and the driver receives one (bucket, count) pair per
    * distinct bucket per document. */
  def trainQualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                             isSeed: Column, buckets: Int = 1024,
                             sampleMod: Int = 1, iters: Int = 100,
                             maxLocalFit: Int = 250000): QualityClassifier = {
    val base =
      if (sampleMod <= 1) docs
      else docs.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    // The collected rows are read with positional getLong/getBoolean
    // accessors; cast the id up front so a caller with an int id gets a
    // widened fit instead of a ClassCastException at collect time.
    val byDoc = base.withColumn(idCol, col(idCol).cast("long")).repartition(col(idCol))
    fitPerDoc(perDocGramCounts(byDoc, idCol, textCol, isSeed, buckets)
      .limit(maxLocalFit + 1).collect(), buckets, iters, maxLocalFit)
  }

  /** (id, label, [(bucket, count)], n_grams) per document of `docs`,
    * whose `idCol` is a long: the fit input [[fitPerDoc]] reads. */
  private[graft] def perDocGramCounts(docs: DataFrame, idCol: String, textCol: String,
                                      isSeed: Column, buckets: Int): DataFrame =
    graft.operators.Sampling
      .dsirGrams(docs, textCol, isSeed.cast("boolean").as("__t"), buckets, Seq(idCol))
      .groupBy(col(idCol), col("__t"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("__t"))
      .agg(collect_list(struct(col("bucket"), col("cnt"))).as("fs"),
        sum(col("cnt")).as("n"))

  /** The driver half of [[trainQualityClassifier]] over collected
    * [[perDocGramCounts]] rows: bucket-sorted tf features, a fit order
    * sorted by (id, label) — collect order is partition-dependent — and
    * [[localLogReg]]. */
  private[graft] def fitPerDoc(perDoc: Array[org.apache.spark.sql.Row], buckets: Int,
                               iters: Int, maxLocalFit: Int): QualityClassifier = {
    require(perDoc.length <= maxLocalFit,
      s"classifier fit sample exceeds $maxLocalFit docs — raise sampleMod " +
        "(the fit is a bounded-sample job by design)")
    val xs = perDoc.map { r =>
      val n = r.getLong(3).toDouble
      val feats = r.getSeq[org.apache.spark.sql.Row](2)
        .map(f => (f.getLong(0).toInt, f.getLong(1).toDouble / n))
        .sortBy(_._1).toArray
      (r.getLong(0), if (r.getBoolean(1)) 1.0 else 0.0, feats)
    }.sortBy(x => (x._1, x._2)).map { case (_, y, f) => (f, y) }
    val (w, b) = localLogReg(xs, buckets, iters)
    QualityClassifier(w, b, buckets)
  }

  /** Score any frame against a trained [[QualityClassifier]] — the
    * [[graft.operators.Sampling.dsirScoreAgainst]] probe topology
    * (scan-side grams, one row-local weight-vector pass, no job to
    * build it) with the logistic link applied in the same pass:
    * quality = sigmoid(bias + Σ tf_b·w_b), and
    * Σ tf_b·w_b = (Σ_grams w_bucket)/n_grams. Output: (idCol, n_grams,
    * quality), quality rounded to 4. */
  def scoreQualityClassifier(docs: DataFrame, idCol: String, textCol: String,
                             clf: QualityClassifier): DataFrame = {
    import graft.functions.WordShingles.wordShingles
    val w = clf.weights
    docs.select(col(idCol),
        concat(wordShingles(col(textCol), 1, distinct = false),
          wordShingles(col(textCol), 2, distinct = false)).as("__g"))
      .filter(size(col("__g")) > 0)
      .select(col(idCol), size(col("__g")).cast("long").as("n_grams"),
        graft.functions.BucketWeightSum
          .bucketWeightSum(col("__g"), w).as("__sw"))
      .select(col(idCol), col("n_grams"),
        round(lit(1.0) / (lit(1.0) +
          exp(-(lit(clf.bias) + col("__sw") / col("n_grams").cast("double")))),
          4).as("quality"))
  }
}
