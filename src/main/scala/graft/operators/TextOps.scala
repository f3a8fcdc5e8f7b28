package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OpModule
import graft.sources.{Cached, Sql, Tables}

/** Text-analysis suite over `documents`: marker-token language scoring,
  * quality scoring (length/char-class/stopword ratios), token statistics,
  * document fingerprinting (normalized md5 + rolling hash).
  *
  * All ratios are exact-division doubles rounded to 6 decimals on both
  * engine sides. The rolling hash (tx5) is a sequential fold — Spark
  * `aggregate()` over the token array; its oracle exploits linearity of
  * modular arithmetic: fold(h*31+len) % p == SUM(len_i * 31^(n-i)) % p,
  * with the power table built by a recursive CTE (DuckDB v1.0 has no
  * list_reduce, but the closed form needs none).
  */
object TextOps extends OpModule {

  private val Stopwords = Seq("the", "a", "data", "value")
  /** Fixed ad-hoc search terms for the tx9 relevance ranking. */
  private val QueryTerms = Seq("hash", "merge", "vector")
  private val MarkerSetA = Seq("the", "a", "row", "data")      // "prose-ish"
  private val MarkerSetB = Seq("join", "hash", "merge", "agg") // "query-ish"

  private def inList(c: String, words: Seq[String]) =
    sum(when(col(c).isin(words: _*), 1).otherwise(0))

  private def sqlList(words: Seq[String]) =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** BPE-ish pre-tokenizer pattern (tx7): the GPT-2 segmentation idea —
    * optionally-space-prefixed letter runs, digit runs, punctuation runs,
    * then bare space runs — restricted to ASCII classes and no lookahead
    * so Java regex (Spark) and RE2 (DuckDB) tokenize identically. */
  val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** tx19's per-doc token cap: each document contributes at most this
    * many (hash-sampled) distinct tokens to the co-occurrence pair join,
    * so the quadratic step fans out a CONSTANT CapK·(CapK-1)/2 = 120
    * pairs per doc. 16 is small enough to bind on the sf ≥ 0.01
    * fixtures (per-doc distinct tokens run into the twenties), which
    * keeps the cap path itself inside the oracle gate rather than a
    * dead branch that only wakes at gen scale. The same constant feeds
    * the Spark plan, the generated oracle SQL and the [[Cached]] key. */
  private[operators] val CapK = 16

  /** tx15 regime threshold: the pushdown arm is chosen when at least
    * this fraction of presence rows (doc, word pairs) belongs to words
    * with df < 50 — "rare-df presence mass". Measured anchors: every
    * closed-vocabulary corpus sits at exactly 0.0 (min df ≫ 50, the
    * regime where the pushdown lost ×1.40); the open-vocabulary corpora
    * where it won ×2.25 sit at 0.16–0.31. 0.05 is half an order of
    * magnitude below the measured winning regime and strictly above the
    * losing one — and near the boundary both arms are within noise of
    * each other (the pushdown's cost is one vocab-sized broadcast build
    * off the already-persisted wc), so the threshold's exact position
    * is not load-bearing. */
  private[operators] val Tx15RareMassMin = 0.05

  /** Decide tx15's pair-join input arm for this corpus from the rare-df
    * presence-mass statistic computed from the cached wc relation (one
    * vocab-sized aggregate; at 100 TB nobody hand-sets a per-corpus
    * switch, so the plan choice must come from the data — the reference
    * derives behavior from data the same way, tileconfig.py:443-497).
    * Memoized per (session, corpus) in [[Cached]], so the statistic job
    * runs once and the decision is logged once. */
  private def tx15Pushdown(s: SparkSession, dir: String,
      wc: DataFrame): Boolean =
    Cached.once(s, s"tx15:arm:$dir") {
      val row = wc.agg(
        (sum(when(col("c") < 50, col("c")).otherwise(lit(0L)))
          / sum(col("c"))).as("rare_mass")).collect()(0)
      val mass = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      val pick = mass >= Tx15RareMassMin
      System.err.println(String.format(java.util.Locale.ROOT,
        "[graft] tx15 regime for %s: rare-df presence mass %.4f %s %.2f -> %s arm",
        dir, Double.box(mass), if (pick) ">=" else "<",
        Double.box(Tx15RareMassMin),
        if (pick) "pushdown" else "direct"))
      pick
    }

  /** Exploded non-empty whitespace tokens per doc — shared persisted
    * relation ([[Cached]]): tx1/tx2/tx3 and PipelineOps.pp1 all aggregate
    * over it, so it is built once per (session, dir) instead of
    * re-exploding the corpus per query. */
  def tokens(s: SparkSession, dir: String): DataFrame =
    Cached.of(s, s"tx:tokens:$dir") {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
    }

  // AS MATERIALIZED: DuckDB inlines plain CTEs per reference (see the
  // DedupOps.shinglesSql note); tokens feeds multiple consumers in the
  // tx9/tx11/tx15/pp4 oracles
  private[operators] val tokensSql =
    """tokens AS MATERIALIZED (
      |  SELECT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
      |  WHERE w <> '')""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // language-ID by marker-token scoring (n-gram-heuristic shape)
    "tx1_langid" -> ((s, dir) =>
      tokens(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          inList("w", MarkerSetA).as("sa"),
          inList("w", MarkerSetB).as("sb"))
        .select(col("doc_id"),
          round(col("sa") / col("n"), 6).as("score_a"),
          round(col("sb") / col("n"), 6).as("score_b"),
          when(col("sa") >= col("sb"), "prose").otherwise("query").as("pred"))),

    // quality scoring: length, vowel ratio, stopword ratio, keep flag
    "tx2_quality" -> ((s, dir) => {
      val t = tokens(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), inList("w", Stopwords).as("n_stop"))
      Tables.documents(s, dir)
        .select(col("doc_id"), length(col("text")).as("len"),
          (length(col("text")) -
            length(regexp_replace(col("text"), "[aeiou]", ""))).as("n_vowels"))
        .join(t, Seq("doc_id"))
        .select(col("doc_id"), col("len"), col("n_tokens"),
          round(col("n_vowels") / col("len"), 6).as("vowel_ratio"),
          round(col("n_stop") / col("n_tokens"), 6).as("stop_ratio"),
          (col("n_tokens") >= 10 &&
            (col("n_stop") / col("n_tokens")) < lit(0.5)).as("keep"))
    }),

    // token counting: totals, distincts, type-token ratio
    "tx3_token_stats" -> ((s, dir) =>
      tokens(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct("w").as("n_distinct"))
        .withColumn("ttr", round(col("n_distinct") / col("n_tokens"), 6))),

    // fingerprint: md5 of whitespace-normalized lowercased text
    "tx4_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), " +", " ")).as("fp"))),

    // char-trigram language ID (the real n-gram heuristic): per-lang
    // trigram profiles learned from a training subset (doc_id%5==0,
    // top-20 by frequency, deterministic tie-break), then argmax profile
    // overlap per doc. Scoring never materializes a single corpus
    // trigram: |doc_grams ∩ profile| == the number of profile grams that
    // occur in the text as substrings (every length-3 substring IS a
    // trigram), so the score is `instr` probes of the O(langs × 20)
    // broadcast profile against the raw text — no per-doc trigram
    // arrays, no explode. The only corpus-wide shuffles are the
    // partial-aggregated per-(doc, lang) counts and the final per-doc
    // argmax (min_by on a (-overlap, lang) struct, no window pass).
    // At 100 TB the scoring side is embarrassingly map-parallel.
    "tx6_trigram_langid" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // profile side counts every trigram OCCURRENCE, but only over the
      // 20% training slice (filter commutes below the explode)
      val tri = Tables.documents(s, dir)
        .filter(length(col("text")) >= 3)
        .filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          explode(expr(
            "transform(sequence(0, length(text) - 3), i -> substring(text, i + 1, 3))"))
            .as("g"))
      val wp = Window.partitionBy("lang").orderBy(col("cnt").desc, col("g"))
      // the trained per-lang profile is a model artifact: built once per
      // (session, dir), persisted, reused (the broadcast side of scoring)
      val profiles = Cached.of(s, s"tx:profiles:$dir") {
        tri.groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 20)
          .select(col("lang").as("p_lang"), col("g"))
      }
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 3)
        .select("doc_id", "text")
        .crossJoin(broadcast(profiles))
        .filter(instr(col("text"), col("g")) > 0)
        .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("ov"))
        .groupBy("doc_id")
        .agg(
          min_by(col("p_lang"), struct((-col("ov")).as("no"), col("p_lang"))).as("pred_lang"),
          min_by(col("ov"), struct((-col("ov")).as("no"), col("p_lang"))).as("ov"))
    }),

    // BPE-ish regex tokenization (GPT-2-style segment classes, ASCII
    // ranges so Java and RE2 regex semantics agree): word / number /
    // punctuation-run / space-run segments, vs whitespace token count
    "tx7_bpe_tokens" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$BpePattern', 0)")).as("n_bpe"),
        size(filter(split(col("text"), " "), w => w =!= "")).as("n_ws"))
        .withColumn("bpe_per_ws", round(col("n_bpe") / col("n_ws"), 6))),

    // rolling polynomial hash over the token stream (sequential fold;
    // oracle uses the closed-form SUM(len_i * 31^(n-i)) % p)
    "tx5_rolling_hash" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        expr("aggregate(split(text, ' '), 0L, " +
          "(h, w) -> (h * 31 + length(w)) % 1000000007)").as("rh"))),

    // intra-document repetition signals (the Gopher-style repetition
    // quality gates): fraction of duplicated word-trigrams and the share
    // of the single most repeated trigram. Two-level groupBy — (doc,
    // gram) counts then per-doc rollup — both keyed on doc_id, so the
    // shuffle is perfectly document-parallel at any corpus size.
    "tx8_repetition" -> ((s, dir) => {
      val tri = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .filter(size(col("arr")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(arr)-3), i -> concat_ws(' ', arr[i], arr[i+1], arr[i+2]))"))
          .as("g"))
      tri.groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tri"), count(lit(1)).as("n_distinct"),
          max("cnt").as("max_cnt"))
        .select(col("doc_id"),
          round(lit(1) - col("n_distinct") / col("n_tri"), 6).as("dup_frac"),
          round(col("max_cnt") / col("n_tri"), 6).as("top_frac"))
    }),

    // TF-IDF relevance ranking: top-10 documents for a fixed term set,
    // score = Σ_terms (tf/doclen) × rational BM25 idf. The idf is the
    // log-free rational form (N - df + 0.5)/(df + 0.5) so every
    // arithmetic step is a correctly-rounded IEEE op — identical on both
    // engines — and per-term contributions are rounded to 8 decimals and
    // summed as exact DECIMAL(18,8), so scores (and therefore the top-10
    // cut) are bit-identical under any partitioning. Plan shape: the
    // per-term df relation is O(|terms|) — broadcast; doc lengths come
    // off the shared cached token relation; the only corpus shuffle is
    // the per-doc groupBy. At 100 TB the ranking is a TakeOrdered over
    // partial top-10s, never a global sort.
    "tx9_tfidf" -> ((s, dir) => {
      val toks = tokens(s, dir)
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val tf = toks.filter(col("w").isin(QueryTerms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
      tf.join(broadcast(dfr), Seq("w"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(n))
        .withColumn("contrib",
          round((col("tf") / col("dl")) *
            ((col("n") - col("df") + 0.5) / (col("df") + 0.5)), 8)
            .cast("decimal(18,8)"))
        .groupBy("doc_id").agg(sum(col("contrib")).as("score_d"))
        .orderBy(col("score_d").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("score_d").cast("double").as("score"))
    }),

    // PII-style pattern redaction over the event props payload: mask
    // digit runs (standing in for the email/phone/ID regexes of a real
    // scrub pass — same plan shape, container has no PII fixture) and
    // report per-type redaction stats. Pure map-side regex + one partial
    // agg; the distinct-shape count shuffles only the already-masked
    // (low-cardinality) strings.
    "tx10_redact" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("red", regexp_replace(col("props"), "[0-9]+", "#"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("red") =!= col("props"), 1).otherwise(0)).as("n_redacted"),
          sum(length(col("props")) - length(col("red"))).as("chars_redacted"),
          countDistinct(col("red")).as("n_shapes"))),

    // Vocabulary coverage curve (tokenizer-training prep): the top-50
    // tokens by corpus frequency with their cumulative token-coverage
    // share. Order of operations is the scale-critical part: the top-50
    // cut happens FIRST as orderBy+limit (TakeOrderedAndProject — a
    // distributed partial top-k, no global sort), and only then does the
    // running-sum window run, over exactly 50 rows. A global
    // unpartitioned window over the full vocabulary would funnel the
    // whole vocab through one reducer — the ds4 lesson applied to
    // ranking.
    "tx11_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(s, dir)
      val total = toks.agg(count(lit(1)).as("total"))
      val top = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(50)
      val wr = Window.orderBy(col("cnt").desc, col("w"))
      top
        .withColumn("rank", row_number().over(wr))
        .withColumn("cum", sum("cnt").over(
          wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .select(col("w"), col("cnt"), col("rank"),
          round(col("cum") / col("total"), 6).as("cum_share"))
    }),

    // TX12 (extension) — per-language Zipf profile: corpus-level
    // type-token ratio and head-term concentration (the share of the
    // single most frequent term), the curation dashboard numbers that
    // flag a language slice as boilerplate-heavy before training. One
    // shuffle on (lang, w) with map-side partial counts (lang is carried
    // through the explode, so NO documents join), then a tiny per-lang
    // rollup — the (lang, w) key is corpus-vocabulary-sized and
    // well-spread, never the cardinality-|langs| key.
    "tx12_zipf_topshare" -> ((s, dir) => {
      val lw = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      lw.groupBy("lang")
        .agg(sum("cnt").as("n_tokens"),
          count(lit(1)).as("n_types"),
          max("cnt").as("top_cnt"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          round(col("n_types") / col("n_tokens"), 6).as("ttr"),
          round(col("top_cnt") / col("n_tokens"), 6).as("top_share"))
    }),

    // TX13 (extension) — INVERTED INDEX build: token → document
    // frequency, total term frequency, and a bounded posting sample (the
    // 10 smallest doc_ids). One shuffle keyed by token; posting lists are
    // HARD-CAPPED before output, so no row can grow with corpus size —
    // the full posting list at 100 TB stays as the (token-bucketed)
    // exploded relation itself, and df/tf are plain mergeable partial
    // aggregates. sort_array makes the sample deterministic under any
    // partitioning (collect_set order is not). The sample is sorted
    // NUMERICALLY first, then serialized to a CSV string — output
    // columns must be scalar portable types only (the r8 gate rule:
    // raw LIST output breaks the driver's row comparator).
    "tx13_inverted_index" -> ((s, dir) =>
      tokens(s, dir)
        .groupBy("w")
        .agg(countDistinct("doc_id").as("df"),
          count(lit(1)).as("tf"),
          array_join(transform(
            slice(sort_array(collect_set(col("doc_id"))), 1, 10),
            _.cast("string")), ",").as("postings"))
        .orderBy("w")),

    // TX14 (extension) — OOV-BIGRAM RATE: score each corpus slice by the
    // fraction of its word bigrams unseen in a reference half (doc_id
    // parity split — on this fixture's round-robin ids that selects
    // alternating sources, i.e. scoring held-out sources against
    // reference sources) — the cheap n-gram-LM novelty/contamination
    // signal
    // (a high rate flags drifted or garbled shards; a near-zero rate on
    // held-out data flags leakage). Integer core (two COUNTs), one IEEE
    // division for the rate. Scale: bigram vocab join is an equi-join on
    // the bigram string — at 100 TB it would join on h60(bigram) with the
    // same df-cap guard as the dedup family; the output is one row per
    // source.
    "tx14_oov_bigram_rate" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, size(arr)-2), i -> concat_ws(' ', arr[i], arr[i+1]))"))
          .as("bg"))
      val refVocab = bg.filter(col("doc_id") % 2 === 0).select("bg").distinct()
        .withColumn("seen", lit(1))
      bg.filter(col("doc_id") % 2 === 1)
        .join(refVocab, Seq("bg"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_bg"),
          count(when(col("seen").isNull, lit(1))).as("n_oov"))
        .withColumn("oov_rate", col("n_oov") / col("n_bg"))
        .orderBy("source")
    }),

    // TX15 (extension) — CO-OCCURRENCE LIFT: for every canonical word
    // pair (wa < wb), observed document co-occurrence vs the
    // independence expectation — lift = N·c_ab / (c_a·c_b) over
    // document-PRESENCE counts. The integer-count PMI surrogate: no log
    // ever crosses an engine boundary (exp-family floats differ by libm
    // across engines); the single IEEE division of exact integers is
    // identical everywhere, rounded at 6. The pair join fans out per doc
    // by (distinct words)², bounded by doc length — at 100 TB the guard
    // is a per-doc top-K token cap (the dedup family's MaxDf argument
    // applied doc-wise) and c_a·c_b widens to DECIMAL. Both count
    // relations are vocabulary-sized → broadcast; output is vocab²-
    // bounded, never corpus-sized.
    "tx15_cooccurrence_lift" -> ((s, dir) => {
      val pres = tokens(s, dir).select("doc_id", "w").distinct()
      // wc is vocabulary-sized and feeds FOUR consumers (the two lift
      // denominators, the pushdown's `frequent` set, and the regime
      // statistic below), so it is built once per (session, corpus) and
      // persisted — which also retires the round-16 finding that the
      // `frequent` broadcast re-materialized the pres subtree as an
      // extra job.
      val wc = Cached.of(s, s"tx:tx15wc:$dir")(
        pres.groupBy("w").agg(count(lit(1)).as("c")))
      val ndocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      // A frequency bound IS pushable below the pair join — `c_ab >= 50`
      // implies df(wa) >= 50 AND df(wb) >= 50, so semi-joining `pres`
      // against wc.filter(c >= 50) before the self-join is semantics-
      // preserving (lift still divides by the FULL c_a/c_b). Whether it
      // PAYS is a property of the corpus, measured from both sides:
      //  - closed vocabulary (gen-sf30/sf100, records/
      //    QMETRICS_tx15_pushdown_96g_r16.jsonl): strictly worse (sf30
      //    steady 157→221 s, shuffle +47%) — min df is far above 50, the
      //    bound prunes ZERO presence rows, and vocab²-bounded pair
      //    groups mean partial aggregation absorbs the fan-out anyway;
      //  - open vocabulary (open-sf30, records/
      //    QMETRICS_tx15_pushdown_open30_96g_r17.jsonl): ×2.25 FASTER
      //    and kills a 99.9 GB spill — rare pairs are unique, nothing
      //    collapses map-side, and the df≥50 semi-join removes exactly
      //    the spilling working set.
      // The engine therefore picks the arm from the corpus itself
      // ([[tx15Pushdown]]): the decision statistic is the rare-df
      // presence mass from the cached wc relation — a pure function of
      // the data, so the chosen plan is deterministic per corpus and the
      // oracle gate stays stable (both arms are result-identical by
      // construction).
      val pairIn =
        if (tx15Pushdown(s, dir, wc)) {
          val frequent = broadcast(wc.filter(col("c") >= 50).select("w"))
          pres.join(frequent, Seq("w"), "left_semi")
        } else pres
      pairIn.as("a").join(pairIn.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("wa"), col("b.w").as("wb"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 50)
        .join(broadcast(wc.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
        .join(broadcast(wc.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
        .crossJoin(broadcast(ndocs))
        .select(col("wa"), col("wb"), col("c_ab"),
          round(col("n_docs") * col("c_ab") / (col("c_a") * col("c_b")), 6)
            .as("lift"))
    }),

    // TX19 (extension, round 16) — CAPPED CO-OCCURRENCE: tx15's lift
    // under the PRODUCTION guard its own scale note promises ("a
    // per-doc top-K token cap — the dedup family's MaxDf argument
    // applied doc-wise"). Round 16 measured the uncapped pair sort
    // spilling 44 GB at gen-sf100 and refuted the frequency pushdown on
    // this corpus (closed vocabulary — SCALE.md "Round-16: tx15"), so
    // the cap IS the 100 TB plan, and this query makes it a gated,
    // measurable operator instead of a comment: per document keep the
    // CapK tokens with the smallest (h60, w) key — a deterministic
    // pseudo-random token sample both engines spell identically — then
    // compute presence counts, pair counts, and lift INSIDE the capped
    // universe (the estimator's sample space; exact over the sample,
    // not an approximation of tx15's numbers). The quadratic step's
    // input is docs × CapK(CapK-1)/2 pairs — corpus-LINEAR with a
    // constant fan-out, never doc-length-quadratic, so the pair sort
    // working set that spills in tx15 at gen-sf100 is bounded by
    // construction (records/QMETRICS_tx19_sf30sf100_96g_r16.jsonl).
    //
    // The cap itself is the bounded-heap TopKStrByHash AGGREGATION (the
    // ds5 argument), not a row_number window: the window form was
    // implemented first and measured at gen-sf100 — its corpus-wide
    // (doc_id, h60, w) sort, re-computed for both pair-join sides and
    // the count relation, sort-spilled ~99 GB (the same record). The
    // aggregator's map-side partials cap every (doc × partition) slice
    // at CapK before the shuffle, so nothing corpus-sized is ever
    // sorted; the capped relation is then shared via [[Cached]] (the
    // dedup family's pattern) so the self-join's two sides and the
    // count relation read one persisted copy.
    "tx19_capped_cooccurrence" -> ((s, dir) => {
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      import graft.functions.{KeyedStr, TopKStrByHash}
      val capped = Cached.of(s, s"tx:capped$CapK:$dir") {
        val tk = udaf(new TopKStrByHash(CapK), ExpressionEncoder[KeyedStr]())
        tokens(s, dir).select("doc_id", "w").distinct()
          .select(col("doc_id"),
            DedupOps.h60("tx19:", col("w")).as("ord"), col("w").as("id"))
          .groupBy("doc_id").agg(tk(col("ord"), col("id")).as("ws"))
          .select(col("doc_id"), explode(col("ws")).as("w"))
      }
      val wc = capped.groupBy("w").agg(count(lit(1)).as("c"))
      val ndocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      capped.as("a").join(capped.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("wa"), col("b.w").as("wb"))
        .agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 50)
        .join(broadcast(wc.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
        .join(broadcast(wc.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
        .crossJoin(broadcast(ndocs))
        .select(col("wa"), col("wb"), col("c_ab"),
          round(col("n_docs") * col("c_ab") / (col("c_a") * col("c_b")), 6)
            .as("lift"))
    }),

    // TX17 (extension) — ONE BPE MERGE STEP: the counting core of BPE
    // tokenizer training — count every adjacent character pair inside
    // the BPE pre-tokens (tx7's GPT-2-style segmentation, spaces
    // attached to the following word) across the corpus, and emit the
    // top-10 merge candidates. The "one training step, distributed"
    // shape of nn8's Lloyd iteration applied to tokenizers: full
    // training loops this step, re-segmenting with the merged symbol
    // each round. Scale: pre-token explode + pair explode are linear in
    // corpus characters; the count is one partial-agg shuffle on the
    // (c1, c2) pair key; the top-10 cut is TakeOrderedAndProject, never
    // a global sort (the tx11 lesson). Deterministic tiebreak
    // (n desc, c1, c2) so top-10 membership is engine-identical.
    "tx17_bpe_merge_step" -> ((s, dir) => {
      val pre = Tables.documents(s, dir)
        .select(explode(expr(s"regexp_extract_all(text, '$BpePattern', 0)"))
          .as("t"))
        .filter(length(col("t")) >= 2)
      pre.select(explode(expr(
          "transform(sequence(1, length(t) - 1), " +
            "i -> struct(substring(t, i, 1) AS c1, substring(t, i + 1, 1) AS c2))"))
          .as("p"))
        .select(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("c1"), col("c2"))
        .limit(10)
    }),

    // TX16 (extension) — BIGRAM LM QUALITY SCORE: the CCNet/Gopher-style
    // quality filter (train a tiny LM on the corpus, score every doc by
    // how predictable its text is) with an exact-rational surrogate for
    // perplexity: the per-doc MEAN add-one-smoothed bigram probability
    // p = (c_ab + 1) / (c_a + V). No log ever crosses the engine
    // boundary (libm exp/log differ across engines — the tx15 rule);
    // each p is one IEEE division of exact integer counts, identical
    // everywhere, rounded at 8 and summed as DECIMAL (the tx9
    // discipline), so the doc score is partitioning-independent.
    // Scale: the count relations are vocab-/bigram-vocab-sized partial
    // aggregates; the probability lookup is an equi-join on (w1, w2) —
    // NOT broadcast, because a web-scale bigram vocabulary is not
    // broadcastable; hot bigrams join against ONE count row each, so
    // there is no fan-out. The unigram side broadcasts here (31-word
    // fixture vocab) — at a real vocabulary it becomes the same
    // equi-join on the word key.
    "tx16_bigram_score" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(arr)-2), i -> struct(arr[i] AS w1, arr[i+1] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val uni = tokens(s, dir).groupBy("w").agg(count(lit(1)).as("c_a"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      bg.join(bgc, Seq("w1", "w2"))
        .join(broadcast(uni.withColumnRenamed("w", "w1")), Seq("w1"))
        .crossJoin(broadcast(vocab))
        // per-bigram probability in 1e-8 units by exact INTEGER half-up
        // division ((2u + n) div 2n) — the SAME discipline as the final
        // mean below. Previously this was a double quotient + round(., 8),
        // which leaves the one remaining cross-engine hazard: a quotient
        // landing on a representational 8-decimal tie rounds differently
        // (Spark rounds the shortest-string decimal of the double, DuckDB
        // the exact binary value). Integer arithmetic on exact counts is
        // bit-identical everywhere; no float ever crosses the boundary.
        // The NUMERATOR is decimal(38,0), not bigint: 2*(c_ab+1)*1e8
        // wraps a long (ANSI off, silently) once one bigram's count
        // passes ~4.6e10 — plausible for a hot bigram at the 100 TB
        // envelope, and invisible to the fixture-scale oracle. The
        // quotient is a probability in 1e-8 units (≤ ~1e8), so DIV
        // lands back in a comfortable long.
        .withColumn("contrib_e8",
          expr("(CAST(2 AS DECIMAL(38,0)) * (c_ab + 1) * 100000000" +
            " + (c_a + v)) DIV (2L * (c_a + v))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bg"), sum(col("contrib_e8")).as("sc_e8"))
        // the mean probability in 1e-8 units, again integer half-up
        .select(col("doc_id"), col("n_bg"),
          expr("(2L * sc_e8 + n_bg) DIV (2L * n_bg)").as("score_e8"))
    }),

    // TX18 (extension) — UNICODE NFC NORMALIZATION: step zero of text
    // dedup ("é" precomposed vs e+combining-acute are different bytes,
    // so every byte-level fingerprint/shingle treats them as distinct
    // documents). The fixture text is ASCII, so each doc is decorated
    // with a deterministic decomposed suffix (vowel by doc_id%5 +
    // combining grave/acute/circumflex by doc_id%3 — all 15 pairs have
    // precomposed forms, so NFC always composes) plus an already-
    // precomposed "é" (idempotence must hold). Both engines implement
    // the same UAX #15 tables (JDK Normalizer here, utf8proc in the
    // DuckDB oracle), so the normalized strings hash-match exactly.
    // Scale: a per-row codegen'd expression on the corpus scan with an
    // isNormalized fast path — no shuffle, no allocation on real-world
    // mostly-NFC text.
    "tx18_nfc_normalize" -> ((s, dir) => {
      val vowels = array(Seq("a", "e", "i", "o", "u").map(lit): _*)
      // combining grave / acute / circumflex (escapes, not raw glyphs —
      // a bare combining mark in source would attach to the quote)
      val marks = array(Seq("\u0300", "\u0301", "\u0302").map(lit): _*)
      val raw = concat(substring(col("text"), 1, 12), lit(" "),
        element_at(vowels, (col("doc_id") % 5 + 1).cast("int")),
        element_at(marks, (col("doc_id") % 3 + 1).cast("int")),
        lit("\u00e9"))
      Tables.documents(s, dir)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          org.apache.spark.sql.graft.ColumnBridge.toColumn(
            graft.functions.NfcNormalize(
              org.apache.spark.sql.graft.ColumnBridge.toExpression(col("raw"))))
            .as("norm"),
          length(col("raw")).as("n_raw"))
        .withColumn("n_norm", length(col("norm")))
        .withColumn("composed", col("n_raw") - col("n_norm"))
    })
  )

  def oracles: Map[String, String] = Map(
    "tx1_langid" -> Sql.query(tokensSql)(
      s"""SELECT doc_id,
         |       ROUND(sa / n, 6) AS score_a,
         |       ROUND(sb / n, 6) AS score_b,
         |       CASE WHEN sa >= sb THEN 'prose' ELSE 'query' END AS pred
         |FROM (SELECT doc_id, COUNT(*) AS n,
         |             SUM(CASE WHEN w IN ${sqlList(MarkerSetA)} THEN 1 ELSE 0 END) AS sa,
         |             SUM(CASE WHEN w IN ${sqlList(MarkerSetB)} THEN 1 ELSE 0 END) AS sb
         |      FROM tokens GROUP BY doc_id) t""".stripMargin),

    "tx2_quality" -> Sql.query(tokensSql,
      s"""tstats AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         SUM(CASE WHEN w IN ${sqlList(Stopwords)} THEN 1 ELSE 0 END) AS n_stop
         |  FROM tokens GROUP BY doc_id)""".stripMargin)(
      """SELECT d.doc_id, length(d.text) AS len, t.n_tokens,
        |       ROUND((length(d.text) -
        |              length(regexp_replace(d.text, '[aeiou]', '', 'g'))) /
        |             length(d.text), 6) AS vowel_ratio,
        |       ROUND(t.n_stop / t.n_tokens, 6) AS stop_ratio,
        |       t.n_tokens >= 10 AND (t.n_stop / t.n_tokens) < 0.5 AS keep
        |FROM documents d JOIN tstats t USING (doc_id)""".stripMargin),

    "tx3_token_stats" -> Sql.query(tokensSql)(
      """SELECT doc_id, COUNT(*) AS n_tokens,
        |       COUNT(DISTINCT w) AS n_distinct,
        |       ROUND(COUNT(DISTINCT w) / COUNT(*), 6) AS ttr
        |FROM tokens GROUP BY doc_id""".stripMargin),

    "tx4_fingerprint" ->
      """SELECT doc_id,
        |       md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "tx6_trigram_langid" ->
      """WITH tri AS (
        |  SELECT doc_id, lang, substr(text, i, 3) AS g
        |  FROM (SELECT doc_id, lang, text,
        |               unnest(generate_series(1, strlen(text) - 2)) AS i
        |        FROM documents WHERE strlen(text) >= 3) t),
        |profiles AS (
        |  SELECT lang AS p_lang, g FROM (
        |    SELECT lang, g,
        |           ROW_NUMBER() OVER (PARTITION BY lang
        |             ORDER BY COUNT(*) DESC, g) AS rn
        |    FROM tri WHERE doc_id % 5 = 0 GROUP BY lang, g) p
        |  WHERE rn <= 20),
        |docg AS (SELECT DISTINCT doc_id, g FROM tri),
        |scores AS (
        |  SELECT d.doc_id, p.p_lang, COUNT(*) AS ov
        |  FROM docg d JOIN profiles p USING (g)
        |  GROUP BY d.doc_id, p.p_lang)
        |SELECT doc_id, p_lang AS pred_lang, ov FROM (
        |  SELECT doc_id, p_lang, ov,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |           ORDER BY ov DESC, p_lang) AS rn
        |  FROM scores) s
        |WHERE rn = 1""".stripMargin,

    "tx7_bpe_tokens" ->
      s"""SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS n_bpe,
         |       CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
         |            AS INT) AS n_ws,
         |       ROUND(len(regexp_extract_all(text, '$BpePattern')) /
         |             len(list_filter(string_split(text, ' '), w -> w <> '')),
         |             6) AS bpe_per_ws
         |FROM documents""".stripMargin,

    "tx8_repetition" ->
      """WITH tri AS (
        |  SELECT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS g
        |  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - 2)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS arr
        |              FROM documents) d0
        |        WHERE len(arr) >= 3) d),
        |per AS (SELECT doc_id, g, COUNT(*) AS cnt FROM tri GROUP BY doc_id, g)
        |SELECT doc_id,
        |       ROUND(1 - COUNT(*) / SUM(cnt), 6) AS dup_frac,
        |       ROUND(MAX(cnt) / SUM(cnt), 6) AS top_frac
        |FROM per GROUP BY doc_id""".stripMargin,

    // fold(h -> h*31 + len(w) mod p) == SUM(len_i * 31^(n-i)) mod p by
    // linearity; 31^k table via recursive CTE. Terms stay < 2^47 so the
    // BIGINT sum cannot overflow before the final mod.
    "tx5_rolling_hash" ->
      """WITH RECURSIVE
        |docs1 AS (SELECT doc_id, string_split(text, ' ') AS arr,
        |                 len(string_split(text, ' ')) AS n
        |          FROM documents),
        |maxn AS (SELECT MAX(n) AS m FROM docs1),
        |pows(k, v) AS (
        |  SELECT 0, CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT k + 1, (v * 31) % 1000000007 FROM pows, maxn WHERE k < m - 1),
        |terms AS (
        |  SELECT doc_id, length(arr[i]) * p.v AS term
        |  FROM (SELECT doc_id, arr, n, unnest(generate_series(1, n)) AS i
        |        FROM docs1) t
        |  JOIN pows p ON p.k = t.n - t.i)
        |SELECT doc_id, CAST(SUM(term) % 1000000007 AS BIGINT) AS rh
        |FROM terms GROUP BY doc_id""".stripMargin,

    "tx9_tfidf" -> Sql.query(tokensSql,
      "dl AS (SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id)",
      s"""tf AS (
         |  SELECT doc_id, w, COUNT(*) AS tf FROM tokens
         |  WHERE w IN ${sqlList(QueryTerms)} GROUP BY doc_id, w)""".stripMargin,
      "dfr AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w)",
      "n AS (SELECT COUNT(*) AS n FROM documents)")(
      """SELECT doc_id, CAST(score_d AS DOUBLE) AS score FROM (
        |  SELECT tf.doc_id,
        |         SUM(CAST(ROUND((tf.tf / dl.dl) *
        |               ((n.n - dfr.df + 0.5) / (dfr.df + 0.5)), 8)
        |             AS DECIMAL(18,8))) AS score_d
        |  FROM tf JOIN dfr USING (w) JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN n
        |  GROUP BY tf.doc_id) s
        |ORDER BY score_d DESC, doc_id
        |LIMIT 10""".stripMargin),

    "tx10_redact" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CASE WHEN regexp_replace(props, '[0-9]+', '#', 'g')
        |                     <> props THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_redacted,
        |       CAST(SUM(length(props) -
        |           length(regexp_replace(props, '[0-9]+', '#', 'g')))
        |         AS BIGINT) AS chars_redacted,
        |       COUNT(DISTINCT regexp_replace(props, '[0-9]+', '#', 'g'))
        |         AS n_shapes
        |FROM events GROUP BY event_type""".stripMargin,

    "tx11_vocab_coverage" -> Sql.query(tokensSql,
      "total AS (SELECT COUNT(*) AS total FROM tokens)",
      """top AS (
        |  SELECT w, COUNT(*) AS cnt FROM tokens GROUP BY w
        |  ORDER BY cnt DESC, w LIMIT 50)""".stripMargin)(
      """SELECT w, cnt,
        |       CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS INT) AS rank,
        |       ROUND(SUM(cnt) OVER (ORDER BY cnt DESC, w
        |                            ROWS UNBOUNDED PRECEDING) / total.total,
        |             6) AS cum_share
        |FROM top, total""".stripMargin),

    "tx12_zipf_topshare" -> Sql.query(
      """lw AS (
        |  SELECT lang, w, COUNT(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  WHERE w <> '' GROUP BY lang, w)""".stripMargin)(
      """SELECT lang,
        |       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |       COUNT(*) AS n_types,
        |       ROUND(COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6) AS ttr,
        |       ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6) AS top_share
        |FROM lw GROUP BY lang""".stripMargin),

    // tx13: list_sort pins the posting sample; df/tf are plain counts.
    // array_to_string serializes the sample — scalar output columns only.
    "tx13_inverted_index" -> Sql.query(tokensSql)(
      """SELECT w,
        |       COUNT(DISTINCT doc_id) AS df,
        |       COUNT(*) AS tf,
        |       array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',')
        |         AS postings
        |FROM tokens GROUP BY w ORDER BY w""".stripMargin),

    // tx14: COUNT + FILTER (never SUM(int) — HUGEINT) over the same
    // parity-split bigram join
    "tx14_oov_bigram_rate" ->
      """WITH bg AS (
        |  SELECT doc_id, source,
        |         unnest(list_transform(range(1, len(arr)),
        |                               i -> arr[i] || ' ' || arr[i+1])) AS bg
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS arr
        |        FROM documents)
        |  WHERE len(arr) >= 2),
        |vocab AS (SELECT DISTINCT bg FROM bg WHERE doc_id % 2 = 0)
        |SELECT e.source,
        |       COUNT(*) AS n_bg,
        |       COUNT(*) FILTER (WHERE v.bg IS NULL) AS n_oov,
        |       COUNT(*) FILTER (WHERE v.bg IS NULL) / COUNT(*) AS oov_rate
        |FROM bg e LEFT JOIN vocab v ON e.bg = v.bg
        |WHERE e.doc_id % 2 = 1
        |GROUP BY e.source ORDER BY e.source""".stripMargin,

    // tx15: presence counts and the lift ratio replayed over the same
    // canonical-pair join; all inputs to the division are exact integers
    "tx15_cooccurrence_lift" -> Sql.query(tokensSql,
      "pres AS (SELECT DISTINCT doc_id, w FROM tokens)",
      "wc AS (SELECT w, COUNT(*) AS c FROM pres GROUP BY w)",
      "nd AS (SELECT COUNT(*) AS n_docs FROM documents)",
      """pairs AS (
        |  SELECT a.w AS wa, b.w AS wb, COUNT(*) AS c_ab
        |  FROM pres a JOIN pres b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 50)""".stripMargin)(
      """SELECT p.wa, p.wb, p.c_ab,
        |       ROUND(nd.n_docs * p.c_ab / (ca.c * cb.c), 6) AS lift
        |FROM pairs p
        |JOIN wc ca ON ca.w = p.wa
        |JOIN wc cb ON cb.w = p.wb, nd""".stripMargin),

    "tx19_capped_cooccurrence" -> Sql.query(tokensSql,
      "pres AS (SELECT DISTINCT doc_id, w FROM tokens)",
      s"""capped AS MATERIALIZED (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, w, ROW_NUMBER() OVER (
        |      PARTITION BY doc_id
        |      ORDER BY ${DedupOps.h60Sql("tx19:", "w")}, w) AS rk
        |    FROM pres) t
        |  WHERE rk <= $CapK)""".stripMargin,
      "wc AS (SELECT w, COUNT(*) AS c FROM capped GROUP BY w)",
      "nd AS (SELECT COUNT(*) AS n_docs FROM documents)",
      """pairs AS (
        |  SELECT a.w AS wa, b.w AS wb, COUNT(*) AS c_ab
        |  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.w < b.w
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 50)""".stripMargin)(
      """SELECT p.wa, p.wb, p.c_ab,
        |       ROUND(nd.n_docs * p.c_ab / (ca.c * cb.c), 6) AS lift
        |FROM pairs p
        |JOIN wc ca ON ca.w = p.wa
        |JOIN wc cb ON cb.w = p.wb, nd""".stripMargin),

    "tx17_bpe_merge_step" ->
      s"""WITH pre AS (
         |  SELECT unnest(regexp_extract_all(text, '$BpePattern')) AS t
         |  FROM documents),
         |pairs AS (
         |  SELECT substr(t, i, 1) AS c1, substr(t, i + 1, 1) AS c2
         |  FROM (SELECT t, unnest(generate_series(1, length(t) - 1)) AS i
         |        FROM pre WHERE length(t) >= 2))
         |SELECT c1, c2, COUNT(*) AS n
         |FROM pairs GROUP BY c1, c2
         |ORDER BY n DESC, c1, c2
         |LIMIT 10""".stripMargin,

    // vocab words contain no spaces, so the "w1 w2" concatenation splits
    // back unambiguously (same trick as tx14's bigram strings)
    "tx16_bigram_score" -> Sql.query(tokensSql,
      """bgs AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(arr)),
        |                               i -> arr[i] || ' ' || arr[i+1])) AS b
        |  FROM (SELECT doc_id, string_split(text, ' ') AS arr
        |        FROM documents)
        |  WHERE len(arr) >= 2)""".stripMargin,
      """bg AS MATERIALIZED (
        |  SELECT doc_id, split_part(b, ' ', 1) AS w1,
        |         split_part(b, ' ', 2) AS w2
        |  FROM bgs)""".stripMargin,
      "uni AS MATERIALIZED (SELECT w, COUNT(*) AS c_a FROM tokens GROUP BY w)",
      "voc AS (SELECT COUNT(*) AS v FROM uni)",
      "bgc AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS c_ab FROM bg GROUP BY w1, w2)")(
      """SELECT bg.doc_id, COUNT(*) AS n_bg,
        |       CAST((2 * SUM((2 * (c_ab + 1) * 100000000 + (c_a + v))
        |                     // (2 * (c_a + v)))
        |             + COUNT(*)) // (2 * COUNT(*)) AS BIGINT) AS score_e8
        |FROM bg
        |JOIN bgc USING (w1, w2)
        |JOIN uni ON uni.w = bg.w1, voc
        |GROUP BY bg.doc_id""".stripMargin),

    // combining marks are contiguous from U+0300, so the mark picks via
    // chr(768 + k); the vowels are not, hence the list. utf8proc's NFC
    // must produce the same bytes as the JDK's — one Unicode standard.
    "tx18_nfc_normalize" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         substr(text, 1, 12) || ' ' ||
        |         (['a','e','i','o','u'])[CAST(doc_id % 5 AS INT) + 1] ||
        |         chr(768 + CAST(doc_id % 3 AS INT)) || chr(233) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm,
        |       length(raw) AS n_raw,
        |       length(nfc_normalize(raw)) AS n_norm,
        |       length(raw) - length(nfc_normalize(raw)) AS composed
        |FROM raw""".stripMargin
  )
}
