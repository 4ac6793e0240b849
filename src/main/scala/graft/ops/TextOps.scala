package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for LLM-data pipelines over `documents`
  * (SURVEY.md §7 step E): token counting, language-ID heuristic, quality
  * scoring, document fingerprinting. Everything is built from codegen'd
  * built-in functions (split / higher-order array fns / regexp_count /
  * md5) — no UDFs — so the whole stage stays inside WholeStageCodegen and
  * scales linearly with input splits: per-row work only, no shuffle except
  * the final presentation sort.
  */
object TextOps {

  /** English function-word markers used by the lang-ID and quality ops. */
  private val enMarkers = Seq("the", "a", "of", "and", "is", "to", "in")
  private val frMarkers = Seq("le", "la", "les", "et", "de", "un")
  private val deMarkers = Seq("der", "die", "das", "und", "ist", "ein")
  private val esMarkers = Seq("el", "los", "las", "es", "un", "una")

  private def markerCount(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isin(markers.map(lit(_)): _*)))

  private def sqlMarkerCount(markers: Seq[String]): String =
    s"len(list_filter(t, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))"

  /** floor(log2(c)) for c >= 1 — the binary-digit count minus one, the
    * exact integer bit bucket of the surprisal family (t08, t09, t10,
    * t27, t28); the oracle SQL spells it
    * `length(format('{:b}', c)) - 1`.
    */
  private def bits(c: Column): Column =
    (length(conv(c.cast("string"), 10, 2)) - 1).cast("long")

  /** Token counting: whitespace tokens, word-regex tokens, BPE-ish subword
    * segments, CJK chars. Regexes restricted to the common Java/RE2 subset
    * (no lookaround) so the oracle is dialect-identical.
    */
  def t01TokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_measured"),
      size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z0-9]+")).cast("long").as("n_words"),
      regexp_count(col("text"),
        lit("[A-Z]?[a-z]{1,4}|[A-Z]+|[0-9]|[^A-Za-z0-9 ]")).cast("long").as("n_subwords"),
      regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long").as("n_cjk")
    ).orderBy("doc_id")

  /** Language-ID: function-word frequency heuristic + CJK-script check.
    * Deterministic priority on ties; 'und' when no marker fires.
    */
  def t02LangId(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_lang_scores fuses the four marker filter/isin folds and the
    // CJK regexp_count into ONE byte pass per row (r16, guide §4
    // expression tier: each interpreted ArrayFilter lambda paid ~25
    // marker compares per token per language). LangKernelSpec pins
    // bit-equality with the declarative chain the oracle still states;
    // `s` is multi-referenced so CollapseProject keeps one evaluation.
    val sEn = col("s.score_en")
    val sFr = col("s.score_fr")
    val sDe = col("s.score_de")
    val sEs = col("s.score_es")
    val sZh = col("s.score_zh")
    val best = greatest(sEn, sFr, sDe, sEs)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        expr("graft_lang_scores(text)").as("s"))
      .select(
        col("doc_id"), col("labeled_lang"),
        sEn.as("score_en"), sFr.as("score_fr"),
        sDe.as("score_de"), sEs.as("score_es"),
        sZh.as("score_zh"),
        when(sZh > 0, "zh")
          .when(best === 0, "und")
          .when(sEn === best, "en")
          .when(sEs === best, "es")
          .when(sDe === best, "de")
          .otherwise("fr").as("detected_lang")
      ).orderBy("doc_id")
  }

  /** Quality scoring: length/stopword/alpha ratios folded into one score.
    * Single-division doubles and a fixed expression tree keep every value
    * bit-identical to the oracle.
    */
  def t03Quality(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    val nTok = size(t)
    val nChars = length(col("text"))
    val alphaChars = length(regexp_replace(col("text"), "[^A-Za-z]", ""))
    val stop = markerCount(t, enMarkers)
    val stopRatio = stop.cast("double") / nTok
    val alphaRatio = alphaChars.cast("double") / nChars
    val avgTokLen =
      (nChars - nTok + 1).cast("double") / nTok // chars minus separators
    val lenScore = least(nTok.cast("double") / lit(100.0), lit(1.0))
    Tables.documents(spark, dir).select(
      col("doc_id"), nTok.cast("long").as("n_tokens"), alphaRatio.as("alpha_ratio"),
      stopRatio.as("stopword_ratio"), avgTokLen.as("avg_token_len"),
      (lenScore * 0.4 + alphaRatio * 0.3 + stopRatio * 0.3)
        .as("quality_score")
    ).orderBy("doc_id")
  }

  /** Document fingerprinting: 5-char shingles -> md5 -> min/max sketch +
    * distinct-shingle cardinality; a compact rolling-hash-style signature.
    */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    // graft_shingles: one linear pass instead of per-position substring
    // (each SQL substring re-walks from byte 0 — O(chars^2) per doc);
    // md5 over the DISTINCT shingles == distinct over per-position md5s
    // in the same first-occurrence order, so values are unchanged.
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("transform(graft_shingles(text, 5), s -> md5(s))").as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_distinct_shingles"),
        array_min(col("hs")).as("min_hash"),
        array_max(col("hs")).as("max_hash"))
      .withColumn("fingerprint", md5(concat(col("min_hash"), col("max_hash"))))
      .orderBy("doc_id")
  }

  /** TF-IDF with a log-free idf ratio ((N+1)/(df+1): Spark's log and
    * DuckDB's ln may differ in the last ulp, a ratio cannot), top-3 terms
    * per document. Plan: one explode + three hash aggregations sharing
    * the token/doc keys + broadcast scalar doc count + window top-k.
    */
  def t05Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf_count"))
    val totals = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(totals, Seq("doc_id"))
      .join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf_count").cast("double") / col("n_tokens")) *
          ((col("n_docs") + 1).cast("double") / (col("df") + 1)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select("doc_id", "token", "tf_count", "df", "tfidf", "rnk")
      .orderBy("doc_id", "rnk")
  }

  /** Repetition metrics (the Gopher-style repetition quality gates):
    * distinct-word ratio and duplicate-bigram fraction per document —
    * high within-document repetition is the classic low-quality /
    * machine-generated text signal a corpus filter thresholds on.
    * Per-row higher-order array work only; no shuffle except the
    * presentation sort. Ratios are counts divided once, so both engines
    * compute identical doubles.
    */
  def t06Repetition(spark: SparkSession, dir: String): DataFrame = {
    // toks is PROJECTED before use: a lambda body that re-states
    // split(text) evaluates it once per transform ELEMENT — O(tokens^2)
    // string work per document at any scale (measured 6x on t10's
    // explode). Multi-referenced non-cheap aliases survive
    // CollapseProject, so the split runs once per row.
    val bigrams = "transform(sequence(1, greatest(size(toks)-1, 1))," +
      " i -> array_join(slice(toks, i, 2), ' '))"
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        (size(array_distinct(col("toks"))).cast("double") /
          size(col("toks"))).as("uniq_word_ratio"),
        (lit(1.0) - size(array_distinct(expr(bigrams))).cast("double") /
          greatest(size(col("toks")) - 1, lit(1))).as("dup_bigram_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus bigram frequency table (the n-gram LM / contamination-check
    * building block): explode bigrams, count total + per-document
    * frequencies, keep the global top-20 with a total-order tiebreak
    * (count desc, bigram asc). One explode + one hash agg (map-side
    * partial) + a 20-row global top-k — the agg output is
    * O(distinct bigrams), never joined back to the corpus.
    */
  def t07NgramStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams: one byte pass per row (r16, NgramKernelSpec; under
    // the >= 2-token filter the clamped count equals size(toks) - 1)
    Tables.documents(spark, dir)
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), explode(expr("graft_ngrams(text, 2)")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(20)
  }

  /** Unigram-LM surprisal scoring (the CCNet/Gopher perplexity-filter
    * shape with an in-corpus unigram model): every token instance is
    * scored against the corpus-wide unigram frequency table, and each
    * document gets (a) its exact mean token probability and (b) a mean
    * surprisal in bits built from floor(log2(count)) frequency buckets.
    * Buckets are computed as binary-digit counts (`length(conv(n,10,2))-1`
    * here, `length(format('{:b}', n))-1` in the oracle) — pure integer/
    * string work, so no transcendental function whose last ulp could
    * differ across engines; every double in the output is one division
    * of exact integers (the t05/t06 determinism rule).
    *
    * Plan at scale: one explode, one hash agg for the frequency table
    * (map-side partial; output O(vocabulary)), one shuffle join of token
    * instances against that table on the token key, one per-doc hash agg.
    * The scalar corpus total rides a broadcast cross join exactly like
    * t05's doc count. Nothing is ever collected to the driver.
    */
  def t08UnigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val cf = tok.groupBy("token").agg(count(lit(1)).as("cf"))
    val total = cf.agg(sum(col("cf")).as("n_total"))
    val perDoc = tok.join(cf, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cf")).as("sum_cf"),
        sum(bits(col("cf"))).as("sum_bucket"),
        sum(when(col("cf") <= 2, 1L).otherwise(0L)).as("n_rare"))
    perDoc.crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_cf").cast("double") / col("n_tokens") / col("n_total"))
          .as("mean_token_prob"),
        ((bits(col("n_total")) * col("n_tokens") - col("sum_bucket"))
          .cast("double") / col("n_tokens")).as("mean_surprisal_bits"),
        (col("n_rare").cast("double") / col("n_tokens")).as("rare_frac"))
      .orderBy("doc_id")
  }

  /** Zipf-law fit over the corpus unigram distribution (the corpus-health
    * diagnostic next to t08's per-doc scoring): least-squares slope of
    * bit-bucket(log2 floor) frequency vs bit-bucket rank, plus vocabulary
    * size and top-10 token coverage. All sums are exact integers (x, y
    * are binary digit counts as in t08 — no transcendental whose last
    * ulp could differ), and the slope/coverage are single IEEE divisions,
    * so the output is bit-identical across engines.
    *
    * Rank at scale: a global `row_number() ORDER BY cf DESC` would sort
    * the whole vocabulary in ONE task. Instead the p04/p08 two-phase
    * form: a tiny histogram over DISTINCT cf values (O(distinct
    * frequencies) rows) yields each frequency class's global offset via
    * a running sum; the per-token rank is then offset + row_number
    * WITHIN its cf class — every window partition-local, vocabulary
    * never globally sorted. The oracle states the direct global
    * row_number, which this must reproduce exactly.
    */
  def t09ZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val cf = tok.groupBy("token").agg(count(lit(1)).as("cf"))
    val hist = cf.groupBy("cf").agg(count(lit(1)).as("n_toks"))
    val wh = Window.orderBy(col("cf").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = hist
      .withColumn("offset", coalesce(sum(col("n_toks")).over(wh), lit(0L)))
      .select("cf", "offset")
    val wr = Window.partitionBy(col("cf")).orderBy(col("token"))
    val ranked = cf.join(broadcast(off), Seq("cf"))
      .withColumn("rank", col("offset") + row_number().over(wr))
      .select(bits(col("rank")).as("x"), bits(col("cf")).as("y"),
        col("cf"), col("rank"))
    // the slope's n*sxy / n*sxx cross products multiply the VOCAB size
    // into the bit-length moment sums — past ~1e9 distinct tokens that
    // overflows signed 64-bit in both engines, so the cross products
    // run in DECIMAL(38,0) (the w53 convention; the sums themselves
    // are bit-length-bounded, <= 64² per row, and stay long)
    val decZ = (c: Column) => c.cast(DecimalType(38, 0))
    ranked.agg(
        count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("cf")).as("n_tokens"),
        sum(when(col("rank") <= 10, col("cf")).otherwise(0L)).as("cov10"))
      .select(
        col("n").as("n_vocab"), col("n_tokens"),
        ((decZ(col("n")) * decZ(col("sxy")) - decZ(col("sx")) * decZ(col("sy")))
          .cast("double") /
          (decZ(col("n")) * decZ(col("sxx")) - decZ(col("sx")) * decZ(col("sx")))
            .cast("double")).as("zipf_slope"),
        (col("cov10").cast("double") / col("n_tokens")).as("coverage_top10"))
  }

  /** Bigram-LM conditional surprisal (the KenLM-style LM quality filter
    * next to t08's unigram model): every bigram instance (w1, w2) is
    * scored as bits(cf(w1)) - bits(cf(w1 w2)) — the bit-bucket form of
    * -log2 P(w2 | w1) — against in-corpus unigram and bigram frequency
    * tables, and each document gets its mean conditional surprisal plus
    * the fraction of corpus-unique bigrams. Buckets are the same binary-
    * digit counts as t08 (no transcendentals; every output double is one
    * division of exact integers).
    *
    * Plan at scale: one explode into (doc_id, bigram) instances —
    * hash-partitioned by bigram ONCE and cached that way, so the bigram
    * frequency agg AND the scoring join both run exchange-free on top
    * of it (r15, guide §2.4: two operations keyed the same way share
    * one exchange) — one hash agg per frequency table (map-side
    * partial, output O(vocab) / O(distinct bigrams)), the unigram table
    * folded into the bigram table on the frequency-table side (w1 is
    * the bigram's prefix before the first space — recovered there with
    * substring_index, so the instance rows never carry it and that join
    * is vocab x vocab, never corpus-sized), then the scoring join and
    * one per-doc hash agg. Nothing collected, nothing global.
    */
  def t10BigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // projected-toks form (see t06): split once per row, not per element;
    // concat of the two elements == array_join(slice(toks, i, 2), ' ')
    // without the per-position slice allocation
    val pairs = "transform(sequence(1, size(toks) - 1)," +
      " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    // Cached PARTITIONED BY THE JOIN KEY: the frequency agg and the
    // scoring join both consume this exchange (uncached, the explode
    // runs twice; unpartitioned, agg and join each re-shuffle it).
    val inst = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(pairs)).as("bigram"))
      .repartition(col("bigram")))
    // bits() is string work (decimal -> binary digits) — computed ONCE
    // per distinct token/bigram on the O(vocab)-sized frequency tables,
    // never on the corpus-sized instance join.
    val cfu = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("cfu"))
      .select(col("w1"), bits(col("cfu")).as("bits_u"))
    // w1 never contains a space (tokens are the split atoms), so the
    // bigram's first word is exactly substring_index(bigram, ' ', 1) —
    // including empty-token edge cases from repeated separators.
    val cfb = inst.groupBy("bigram").agg(count(lit(1)).as("cfb"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(cfu, Seq("w1"))
      .select(col("bigram"), bits(col("cfb")).as("bits_b"), col("bits_u"),
        when(col("cfb") === 1, 1L).otherwise(0L).as("novel"))
    inst.join(cfb, Seq("bigram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bits_u") - col("bits_b")).as("sum_bits"),
        sum(col("novel")).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("sum_bits").cast("double") / col("n_bigrams"))
          .as("mean_cond_surprisal_bits"),
        (col("n_novel").cast("double") / col("n_bigrams")).as("novel_frac"))
      .orderBy("doc_id")
  }

  /** MG summary capacity for t11: guarantees every key with share
    * > 1/(cap+1) of occurrences survives the one-pass sketch.
    */
  private[graft] val HeavyCap = 199

  /** Corpus-wide heavy tokens (share > 1/200 of all occurrences) with
    * EXACT counts, without ever shuffling the full vocabulary:
    *
    *   phase 1 — ONE pass, one global `graft_heavy_keys` aggregate:
    *   per-partition Misra-Gries counter maps (<= 199 entries) merge
    *   into a candidate set; any token above the threshold is
    *   guaranteed present (MG error <= n/200), and the exact total
    *   token count `n` rides in the same buffer;
    *
    *   phase 2 — exact counts for CANDIDATES ONLY: the corpus joins the
    *   broadcast candidate set, so the per-key aggregation touches
    *   O(candidates) distinct keys, and the share filter
    *   `count * 200 > n` is exact integer arithmetic in both engines.
    *
    * The output is exact and deterministic — the sketch only ever
    * SELECTS candidates, never supplies counts. 100 TB posture: a
    * groupBy(token).count() heavy-hitter query shuffles the entire
    * vocabulary (billions of keys); this plan shuffles partitions x 199
    * summary entries plus the hot rows of <= 199 candidate tokens.
    */
  def t11HeavyTokens(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val summary = toks
      .agg(expr(s"graft_heavy_keys(tok, $HeavyCap)").as("s"))
      .select(col("s.n").as("n"), explode(col("s.keys")).as("tok"))
    toks.join(broadcast(summary), Seq("tok"))
      .groupBy(col("tok"), col("n"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * 200 > col("n"))
      .select(col("tok"), col("n_occurrences"))
      .orderBy("tok")
  }

  /** Per-document benchmark-contamination SCORE — the graded companion
    * to d08's presence report: for every corpus doc (doc_id % 97 != 0,
    * the d08 eval-suite convention), the fraction of its distinct
    * 4-grams that appear anywhere in the benchmark side, plus a
    * flagged verdict at the 50% overlap threshold (the n-gram-overlap
    * contamination methodology of the GPT-3/PaLM eval-decontamination
    * reports). Zero-overlap docs are REPORTED (overlap 0.0), not
    * dropped — a contamination audit needs the clean rows too.
    *
    * Determinism: counts are exact integers, the fraction is one
    * integer division, and the flag compares `2*shared >= total` in
    * integer arithmetic — no float threshold.
    *
    * 100 TB posture: identical to d08 — benchmark grams are
    * eval-suite-sized and broadcast; the corpus side is one gram
    * explode + hash agg per doc, never a corpus x corpus join.
    */
  def t12ContaminationScore(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), expr("graft_ngrams_distinct(text, 4)").as("grams"))
    // cached: the corpus side feeds both the shared-gram join and the
    // per-doc totals — uncached, the gram build runs twice
    val corpus = graft.Caches.cache(g.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"),
        col("grams")))
    val bench = g.filter(col("doc_id") % 97 === 0)
      .select(explode(col("grams")).as("gram")).distinct()
    // per-doc grams are already distinct, so count(*) after the join
    // IS the distinct shared-gram count
    val shared = corpus
      .select(col("doc_id"), explode(col("grams")).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    corpus.select("doc_id", "n_grams")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)).cast("double") / col("n_grams"))
          .as("overlap_frac"),
        when(coalesce(col("n_shared"), lit(0L)) * 2 >= col("n_grams"), 1L)
          .otherwise(0L).as("flagged"))
      .orderBy("doc_id")
  }

  /** Distributed BPE tokenizer training — the first 3 merge rounds,
    * exactly as Sennrich-style byte-pair encoding defines them: count
    * adjacent symbol pairs over the word vocabulary weighted by word
    * frequency, merge the most frequent pair (ties: lexicographically
    * smallest (left, right) — deterministic in both engines), repeat
    * on the updated symbol sequences. Emits the merge table
    * (round, l_sym, r_sym, pair_count) — the artifact a tokenizer
    * trainer persists.
    *
    * Scale shape: ONE corpus-sized stage (the word-frequency groupBy);
    * every round after that operates on the DISTINCT-WORD vocabulary —
    * pair explode + hash agg + a 1-row argmax driver read (the
    * documented pattern) + a per-word literal replace. A billion-doc
    * corpus with a 10M-word vocab iterates on 10M rows regardless of
    * corpus size — which is precisely why classical BPE trainers
    * operate on the word-count table.
    */
  def t13BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = graft.Caches.cache(Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wn")))
    var s = w.select(col("word"), col("wn"),
      expr("array_join(transform(sequence(1, length(word))," +
        " i -> substring(word, i, 1)), ' ')").as("seq"))
    // guarded: Spark's sequence(1, 0) yields a DESCENDING [1, 0], not
    // empty — single-symbol words must contribute no pairs
    val pairsOf = "CASE WHEN size(t) >= 2 THEN " +
      "transform(sequence(1, size(t) - 1)," +
      " i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r)) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"
    val merges = (1 to 3).map { round =>
      val top = s.select(col("wn"), split(col("seq"), " ").as("t"))
        .select(col("wn"), explode(expr(pairsOf)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).head() // 1-row argmax read — the documented pattern
      val (l, r, n) = (top.getString(0), top.getString(1), top.getLong(2))
      s = graft.Caches.cache(s.select(col("word"), col("wn"),
        call_function("replace", col("seq"),
          lit(l + " " + r), lit(l + r)).as("seq")))
      (round.toLong, l, r, n)
    }
    merges.toDF("round", "l_sym", "r_sym", "pair_count")
      .orderBy("round")
  }

  /** BPE ENCODE — the apply side of t13: tokenize every document under
    * the 3-merge tokenizer t13 trains, reporting per-doc symbol counts
    * before/after and the compression ratio. The encoded vocabulary is
    * a byproduct of training (each round's replace already updated the
    * word->symbol-sequence table), so encoding the corpus is ONE more
    * pass: explode words, broadcast-join the encoded vocab, sum symbol
    * counts per doc — the corpus never re-runs the merge iteration.
    */
  def t14BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeVocab(spark, dir)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars_w")).as("n_char_symbols"),
        sum(col("n_sym_w")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_char_symbols"),
        col("n_bpe_tokens"),
        (col("n_char_symbols").cast("double") / col("n_bpe_tokens"))
          .as("compression"))
      .orderBy("doc_id")
  }

  /** t13/t14's trained 3-round BPE vocab as (word, n_chars_w, n_sym_w)
    * — extracted so t14 (per-doc encode) and t19 (per-language
    * fertility audit) share one training pass. The per-round `.head()`
    * argmax is the documented driver-side step (1 row per round).
    */
  private def bpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val w = graft.Caches.cache(Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wn")))
    var s = w.select(col("word"), col("wn"),
      expr("array_join(transform(sequence(1, length(word))," +
        " i -> substring(word, i, 1)), ' ')").as("seq"))
    val pairsOf = "CASE WHEN size(t) >= 2 THEN " +
      "transform(sequence(1, size(t) - 1)," +
      " i -> struct(element_at(t, i) AS l, element_at(t, i + 1) AS r)) " +
      "ELSE CAST(array() AS ARRAY<STRUCT<l: STRING, r: STRING>>) END"
    (1 to 3).foreach { _ =>
      val top = s.select(col("wn"), split(col("seq"), " ").as("t"))
        .select(col("wn"), explode(expr(pairsOf)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wn")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).head()
      val (l, r) = (top.getString(0), top.getString(1))
      s = graft.Caches.cache(s.select(col("word"), col("wn"),
        call_function("replace", col("seq"),
          lit(l + " " + r), lit(l + r)).as("seq")))
    }
    s.select(col("word"),
      length(col("word")).cast("long").as("n_chars_w"),
      size(split(col("seq"), " ")).cast("long").as("n_sym_w"))
  }

  /** Tokenizer-fertility audit per language: how well the t13-trained
    * BPE vocabulary serves each language — words, char-symbols, BPE
    * tokens, tokens-per-word (fertility) and chars-per-token
    * (compression), grouped by the documents' declared lang. THE
    * multilingual-tokenizer health check: a language whose fertility
    * runs high pays more sequence length per word (trains slower,
    * truncates sooner) because the merges were learned on someone
    * else's distribution — the number that drives vocab-budget
    * rebalancing decisions. Integer sums + two single divisions.
    *
    * 100 TB posture: training runs on the distinct-word vocabulary
    * (same [[bpeVocab]] form t14 uses — vocabulary-sized regardless of
    * corpus size, broadcast to the join); the corpus-side work is one
    * explode + broadcast join + a languages-sized hash agg.
    */
  def t19TokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeVocab(spark, dir)
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars_w")).as("n_char_symbols"),
        sum(col("n_sym_w")).as("n_bpe_tokens"))
      .select(col("lang"), col("n_words"), col("n_char_symbols"),
        col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") / col("n_words"))
          .as("fertility"),
        (col("n_char_symbols").cast("double") / col("n_bpe_tokens"))
          .as("compression"))
      .orderBy("lang")
  }

  /** Crawl-order novelty curve: for every document (in doc_id order —
    * the ingest order), the fraction of its distinct token-4-grams
    * never seen in ANY earlier document. The dataset-curation signal
    * behind "diminishing returns": a crawl whose novelty rate decays
    * toward 0 is re-fetching what the corpus already holds, and the
    * knee of this curve is where continued ingestion stops buying
    * diversity (the data-mixing literature's token-crisis measurement
    * at corpus granularity). A gram is novel exactly for the document
    * holding its MINIMUM doc_id — so the whole curve needs no ordered
    * scan at all: one gram->min(doc_id) hash agg and one join back,
    * both keyed on the gram.
    *
    * Counts exact integers; novelty_rate is the one shared IEEE
    * division.
    *
    * 100 TB posture: one explode + ONE gram-keyed hash agg — the
    * running-set formulation (each doc against a growing "seen"
    * state) is inherently sequential and cannot distribute; min-per-key
    * is its exact parallel form. r15 restructure (guide §2.4): the old
    * plan joined the corpus-sized posting back onto the gram->min table
    * (a second corpus-sized shuffle) just to COUNT matches per doc —
    * but n_grams is size(gs) straight off the per-doc array, and
    * n_novel is a group-count of the gram->min table by its min holder
    * (a gram is novel exactly for its minimum doc_id), so the join-back
    * disappears and the only corpus-sized exchange left is the gram
    * agg. The cache holds the pre-explode (doc_id, gs) arrays — the
    * same bytes as the old exploded posting, one row per doc — because
    * both the explode and the n_grams projection read it.
    */
  def t16Novelty(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // graft_ngrams_distinct: one byte pass per row (r16, NgramKernelSpec)
    val docs = graft.Caches.cache(Tables.documents(spark, dir)
      .select(col("doc_id"), expr("graft_ngrams_distinct(text, 4)").as("gs")))
    val novel = docs.select(col("doc_id"), explode(col("gs")).as("gram"))
      .groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      .groupBy(col("first_doc").as("doc_id"))
      .agg(count(lit(1)).as("n_novel"))
    docs.select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"))
      .join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams"))
          .as("novelty_rate"))
      .orderBy("doc_id")
  }

  /** Term burstiness (Church & Gale's dispersion measure): for every
    * token with corpus frequency >= 100, its total frequency, document
    * frequency, and burstiness = tf/df — the mean occurrences per
    * document that CONTAINS the token. Function words spread thin
    * (burstiness ~ tf/n_docs-ish, low), topical terms clump (a doc
    * that mentions them mentions them repeatedly) — the signal that
    * separates stopword-like tokens from content terms WITHOUT a
    * stopword list, and the diagnostic behind idf-style weighting
    * choices (t05) on a new corpus. tf/df is the one shared IEEE
    * division of exact integers.
    *
    * 100 TB posture: one explode + one hash agg computing both counts
    * in a single pass (count + countDistinct per token share the
    * shuffle); the frequency floor bounds the output to the hot
    * vocabulary, and at the 1/200-share scale t11's Misra-Gries
    * candidate pass bounds what even reaches the aggregation.
    */
  def t17Burstiness(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("tf") >= 100)
      .select(col("tok"), col("tf"), col("df"),
        (col("tf").cast("double") / col("df")).as("burstiness"))
      .orderBy("tok")

  /** Per-document keyword extraction: each document's top-3 terms by
    * TF-IDF, with the IDF in t08's exact bit-bucket form — idf_bits =
    * bits(N_docs) - bits(df), score = tf * idf_bits — so every score is
    * an exact integer (no transcendental whose last ulp could differ
    * across engines) and the ranking (score desc, token asc) is a total
    * order. t05 reports the corpus-level TF-IDF table; this is the
    * per-document consumer — the auto-labeling / search-snippet /
    * topic-tag primitive a curation pipeline runs per doc. Ubiquitous
    * terms get idf_bits 0 and sink; a doc whose every term is
    * corpus-wide still emits 3 rows (all-zero scores, token-ordered) —
    * rows per doc are EXACTLY min(3, distinct terms), never silently
    * fewer.
    *
    * 100 TB posture: one explode -> (doc, token) tf hash agg (map-side
    * partial), the df table derived from tf (O(vocab), never re-reads
    * the corpus), one token-keyed join, ONE doc-keyed window whose
    * partitions are bounded by per-doc distinct terms; the N_docs
    * scalar rides a 1-row broadcast (the t05/t08 pattern).
    */
  def t18KeywordExtract(spark: SparkSession, dir: String): DataFrame =
    keywordExtract(Tables.documents(spark, dir).select("doc_id", "text"))

  /** The t18 body over any (doc_id, text) frame — exposed for the
    * hand-computed spec corpus.
    */
  private[graft] def keywordExtract(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cached = graft.Caches.cache(docs)
    val tf = cached
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = cached.agg(count(lit(1)).as("n_docs"))
    def bitLength(c: Column): Column =
      length(conv(c.cast("string"), 10, 2)).cast("long")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (bitLength(col("n_docs")) - bitLength(col("df"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** Dataset card — the (source x lang) composition table a corpus
    * release publishes: documents, tokens and characters per cell,
    * plus each cell's share of its source's docs and tokens (the two
    * numbers a mixture designer actually reads — "this crawl is 62%
    * English by tokens but 41% by documents" is the long-document
    * skew signal). Counts are exact integer sums; the two shares are
    * single divisions against per-source totals.
    *
    * 100 TB posture: ONE corpus scan into a (sources x langs)-sized
    * hash agg (map-side combinable); the per-source totals re-aggregate
    * the tiny cell frame and ride a broadcast-hash join back — the
    * corpus is never touched twice and nothing is windowed.
    */
  def t20DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        col("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
    val totals = cells.groupBy("source")
      .agg(sum(col("n_docs")).as("src_docs"),
        sum(col("n_tokens")).as("src_tokens"))
    cells.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"),
        (col("n_docs").cast("double") / col("src_docs")).as("doc_share"),
        (col("n_tokens").cast("double") / col("src_tokens"))
          .as("token_share"))
      .orderBy("source", "lang")
  }

  /** Vocabulary growth curve (the Heaps-law diagnostic, t16's
    * vocabulary-axis twin): distinct token vocabulary size after each
    * doc_id decile of the crawl order, plus the per-decile delta — the
    * curve whose flattening says continued ingestion has stopped
    * buying lexical diversity. Like t16, the running-set formulation
    * is inherently sequential; its exact parallel form is ONE
    * token -> min(doc_id) hash agg, after which each decile's vocab is
    * a count of first-occurrences at or below the decile's doc_id cut
    * (cuts are exact integer arithmetic on max doc_id + 1).
    *
    * 100 TB posture: one corpus explode + one token-keyed hash agg;
    * the decile explode multiplies the VOCABULARY-sized firsts frame
    * by <= 10 (each first occurrence lands in the deciles it precedes
    * — stated as sequence(its_decile, 10)); the 1-row max-id broadcast
    * is the d23 scalar pattern.
    */
  def t21VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(min(col("doc_id")).as("first_doc"))
    val bound = Tables.documents(spark, dir)
      .agg((max(col("doc_id")) + 1).as("n_ids"))
    // decile d covers doc_ids < (n_ids * d) div 10; a token first seen
    // at doc f belongs to every decile d with cut(d) > f, i.e. the
    // smallest d with (n_ids * d) div 10 > f onward
    val leveled = firsts.crossJoin(broadcast(bound))
      .select(col("first_doc"), col("n_ids"),
        explode(expr("filter(sequence(1, 10)," +
          " d -> (n_ids * d) div 10 > first_doc)")).as("decile"))
    leveled.groupBy("decile", "n_ids")
      .agg(count(lit(1)).as("vocab_size"))
      .select(col("decile").cast("long").as("decile"),
        expr("(n_ids * decile) div 10").as("cut_doc_id"),
        col("vocab_size"))
      .withColumn("new_tokens",
        col("vocab_size") - coalesce(lag(col("vocab_size"), 1)
          .over(Window.orderBy(col("decile"))), lit(0L)))
      .orderBy("decile")
  }

  private val blocklist =
    Seq("crash", "dup", "leak", "null", "skew", "spill")

  /** Blocklist incidence report — the calibration table a team reads
    * BEFORE enforcing a C4-style term filter: for every blocklist
    * term, total occurrences, documents containing it, and the
    * corpus-wide document rate. Terms with ZERO hits still appear (a
    * calibration table must show the zeros — the d23 discipline);
    * rates are one division of exact integers. Enforcing the list is
    * then p05-style per-row filtering; this operator is the evidence
    * the threshold decision cites (a term matching 40% of documents is
    * a vocabulary word, not a policy signal).
    *
    * 100 TB posture: the isin predicate prunes the exploded token
    * stream BEFORE the (blocklist-sized) hash agg — the corpus never
    * shuffles; the 1-row doc total rides the d23 scalar broadcast.
    */
  def t22BlocklistReport(spark: SparkSession, dir: String): DataFrame = {
    val terms = spark.range(1).select(
      explode(array(blocklist.map(lit): _*)).as("term"))
    val hits = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(blocklist: _*))
      .groupBy("term")
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("doc_id")).as("n_docs"))
    val tot = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_total"))
    terms.join(hits, Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("term"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        (coalesce(col("n_docs"), lit(0L)).cast("double") / col("n_total"))
          .as("doc_rate"))
      .orderBy("term")
  }

  /** Pairwise source-vocabulary overlap (Jaccard over distinct token
    * sets) — the corpus-diversity audit behind source selection: two
    * sources with near-identical vocabularies add redundant coverage
    * (candidates for capping), a low-overlap source is buying lexical
    * diversity no other source provides. The source×source matrix keeps
    * ZERO-overlap pairs as real rows (the t22 calibration discipline).
    * n_common <= min(vocab_a, vocab_b) and jaccard is one division of
    * exact integers.
    *
    * 100 TB posture: the corpus collapses to the distinct
    * (source, token) frame FIRST (one hash shuffle, vocabulary-sized);
    * the pair join is token-keyed over that frame and each token emits
    * at most C(n_sources, 2) pairs — bounded by the source count, never
    * by corpus size. The zero-kept spine is a sources×sources broadcast
    * (BNLJ allowlisted, source-count-bounded).
    */
  def t23VocabOverlap(spark: SparkSession, dir: String): DataFrame =
    vocabOverlapOf(Tables.documents(spark, dir))

  /** t23's body over any (source, text) frame (probe-shared). */
  private[graft] def vocabOverlapOf(docs: DataFrame): DataFrame = {
    val sv = graft.Caches.cache(docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .distinct())
    val sizes = graft.Caches.cache(
      sv.groupBy("source").agg(count(lit(1)).as("v")))
    val common = sv.select(col("source").as("src_a"), col("token"))
      .join(sv.select(col("source").as("src_b"), col("token")), Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_common"))
    val spine = sizes.select(col("source").as("src_a"), col("v").as("vocab_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("v").as("vocab_b"))), col("src_a") < col("src_b"))
    spine.join(common, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("vocab_a"), col("vocab_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        (coalesce(col("n_common"), lit(0L)).cast("double") /
          (col("vocab_a") + col("vocab_b") -
            coalesce(col("n_common"), lit(0L)))).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Vocabulary churn between crawl snapshots (1 row) — the text-side
    * twin of d27's quality drift, on the SAME split rule (incoming =
    * doc_id % 10 < 2): how much of the incoming snapshot's vocabulary
    * is NEW (tokens the reference never saw — topic/source shift, or
    * crawler breakage minting garbage tokens) and how much of the
    * reference vocabulary DROPPED. High new_share with a flat d27 is
    * the signature of tokenizer-hostile drift that quality binning
    * can't see. All counts are exact integers over per-snapshot
    * distinct token sets; shares and Jaccard are single divisions
    * (NULL when a side is empty, never 0/0).
    *
    * 100 TB posture: ONE corpus explode collapses immediately to the
    * distinct (snapshot, token) frame (<= 2x vocabulary rows); the
    * flag agg is token-keyed; the report is one 1-row fold.
    */
  def t24VocabChurn(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select((col("doc_id") % 10 < 2).cast("long").as("is_inc"),
        explode(split(col("text"), " ")).as("token"))
      .distinct()
    val flags = tok.groupBy("token")
      .agg(max(col("is_inc")).as("has_inc"),
        max(lit(1L) - col("is_inc")).as("has_ref"))
    val agg = flags.agg(
      sum(col("has_ref")).as("vocab_ref"),
      sum(col("has_inc")).as("vocab_inc"),
      sum(col("has_ref") * col("has_inc")).as("n_common"),
      sum(col("has_inc") * (lit(1L) - col("has_ref"))).as("n_new"),
      sum(col("has_ref") * (lit(1L) - col("has_inc"))).as("n_dropped"))
    agg.select(col("vocab_ref"), col("vocab_inc"), col("n_common"),
      col("n_new"), col("n_dropped"),
      when(col("vocab_inc") > 0,
        col("n_new").cast("double") / col("vocab_inc")).as("new_share"),
      when(col("vocab_ref") > 0,
        col("n_dropped").cast("double") / col("vocab_ref"))
        .as("dropped_share"),
      when(col("vocab_ref") + col("vocab_inc") > 0,
        col("n_common").cast("double") /
          (col("vocab_ref") + col("vocab_inc") - col("n_common")))
        .as("jaccard"))
  }

  /** Per-source lexical-diversity report — the hapax-legomena audit a
    * data team reads before trusting a source's token budget: tokens
    * occurring exactly once (hapax) or twice (dis) in the source's own
    * stream, vocabulary size, and the derived shares. A source whose
    * hapax_share spikes is minting tokens (OCR/crawler breakage,
    * boilerplate IDs, tokenizer-hostile markup); one whose type-token
    * ratio collapses is template spam. Zipf's law says roughly half an
    * honest corpus's vocabulary is hapax — large deviations either way
    * are the signal. All counts are exact integers over per-source
    * token-frequency tables; shares are single IEEE divisions
    * (NULL-guarded, never 0/0).
    *
    * 100 TB posture: ONE corpus explode collapses immediately to the
    * (source, token) frequency frame — the only corpus-sized shuffle,
    * keyed on (source, token) so partial aggregation combines map-side;
    * the fold to |sources| rows is a second tiny hash agg; presentation
    * sort is |sources| rows.
    */
  def t25HapaxReport(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("tf"))
    tf.groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("tf")).as("n_tokens"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("n_dis"))
      .select(col("source"), col("vocab"), col("n_tokens"),
        col("n_hapax"), col("n_dis"),
        when(col("vocab") > 0,
          col("n_hapax").cast("double") / col("vocab")).as("hapax_share"),
        when(col("n_tokens") > 0,
          col("vocab").cast("double") / col("n_tokens"))
          .as("type_token_ratio"))
      .orderBy("source")
  }

  /** Per-source Simpson lexical-concentration audit — the HEAD-side
    * companion to t25 (hapax/TTR read the tail of the frequency
    * distribution; Simpson's index weights the head, so template spam
    * that hides behind a healthy hapax share still spikes here).
    * simpson = Σ tf·(tf−1) / (N·(N−1)): the exact probability two
    * token draws without replacement are the same type; inv_simpson
    * (Hill number of order 2) is the "effective vocabulary" — how many
    * equally-common types would concentrate draws this much. A corpus
    * where inv_simpson collapses while vocab holds is being flooded by
    * a handful of boilerplate tokens. Both readouts are ONE division
    * of exact integers, NULL-guarded (N < 2 / all-hapax) never 0/0.
    *
    * 100 TB posture: identical to t25 — ONE corpus explode collapsing
    * to the (source, token) frequency frame, map-side combined on its
    * own key; the fold is a second agg to Σsources rows. The O(N²)
    * terms (Σ tf·(tf−1) and N·(N−1)) are widened to DECIMAL(38,0) —
    * exact to 1e36, i.e. any corpus — and each side casts to double
    * ONCE before the division, matching the oracle's arithmetic
    * step-for-step.
    */
  def t26SimpsonDiversity(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("tf"))
    // the N*(N-1) and sum tf*(tf-1) terms are O(N^2): widened to
    // DECIMAL(38,0) so they stay exact integers at any corpus size
    // (1e36 headroom), then ONE cast of each side to double before the
    // division — the oracle divides the same two exact-int doubles
    val nn1 = col("n_tokens").cast(DecimalType(38, 0)) *
      (col("n_tokens") - 1).cast(DecimalType(38, 0))
    tf.groupBy("source")
      .agg(
        count(lit(1)).as("vocab"),
        sum(col("tf")).as("n_tokens"),
        sum((col("tf") * (col("tf") - 1)).cast(DecimalType(38, 0)))
          .as("rp"))
      // repeat_pairs PUBLISHES as DOUBLE: a 1e10-occurrence token alone
      // contributes ~1e20 pairs, where a cast-back-to-long would throw
      // under ANSI at exactly the corpus sizes the statistic exists
      // for, and a published DECIMAL fails the driver's row hash
      // (VERDICT r14) — double is exact below 2^53, correctly rounded
      // beyond, and never throws
      .select(col("source"), col("vocab"), col("n_tokens"),
        col("rp").cast("double").as("repeat_pairs"),
        when(col("n_tokens") >= 2,
          col("rp").cast("double") / nn1.cast("double")).as("simpson"),
        when(col("rp") > 0,
          nn1.cast("double") / col("rp").cast("double"))
          .as("inv_simpson"))
      .orderBy("source")
  }

  /** Per-source surprisal terciles (E237) — the CCNet head/middle/tail
    * bucketing: every document scored by its mean unigram surprisal
    * under the in-corpus LM (t08's bit-bucket arithmetic — no
    * transcendental), then split WITHIN its source into the lowest-
    * surprisal third ('head'), the middle, and the highest ('tail'),
    * with per-cell doc/token mass and the cell's mean surprisal in
    * bits. The CCNet recipe trains on head+middle and drops or
    * down-weights the tail; this is the report that decides the cut.
    *
    * Determinism: the per-doc ranking key is mb_milli =
    * sum_bucket * 1e6 div n_tokens — an exact integer (doc_id
    * tiebreak), and tercile = (3 * (rank-1)) div source_size, exact
    * integer arithmetic in both engines. The only doubles are the
    * final per-cell divisions. The corpus-total bits enter ONLY the
    * reported mean (a 1-row broadcast, the t05/t08 scalar pattern —
    * allowlisted with the query); the RANKING needs no scalar because
    * bits(n_total) is a constant offset shared by every doc.
    *
    * 100 TB posture: one explode + one vocab hash agg + one token-keyed
    * join (t08's plan), one per-doc hash agg, then windows partitioned
    * by SOURCE over the doc-population-sized frame (never the corpus's
    * token instances); cells are <= 3 x sources rows.
    */
  def t27SurprisalTerciles(spark: SparkSession, dir: String): DataFrame =
    surprisalTercilesFrom(
      Tables.documents(spark, dir).select("doc_id", "source", "text"))

  /** The t27 core over any (doc_id, source, text) frame — exposed so
    * the spec can pin hand-computed terciles on a planted corpus.
    */
  private[graft] def surprisalTercilesFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val cf = tok.groupBy("token").agg(count(lit(1)).as("cf"))
    val total = cf.agg(sum(col("cf")).as("n_total"))
    val perDoc = tok.join(cf, Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(bits(col("cf"))).as("sum_bucket"))
    val scored = perDoc
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("mb_milli", expr("sum_bucket * 1000000 div n_tokens"))
    // commonest-token docs first = lowest surprisal first = 'head'
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("mb_milli").desc, col("doc_id").asc)
    val wSrc = Window.partitionBy(col("source"))
    val cells = scored
      .withColumn("rk", row_number().over(wRank))
      .withColumn("n_src", count(lit(1)).over(wSrc))
      .withColumn("tercile", expr("(3 * (rk - 1)) div n_src"))
      .groupBy("source", "tercile")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("sum_bucket")).as("sumb"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("tercile"),
        when(col("tercile") === 0L, "head")
          .when(col("tercile") === 1L, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("n_tokens"),
        ((bits(col("n_total")) * col("n_tokens") - col("sumb"))
          .cast("double") / col("n_tokens")).as("mean_surprisal_bits"))
      .orderBy("source", "tercile")
  }

  /** DSIR importance weights (E242) — Data Selection via Importance
    * Resampling (Xie et al.), the published recipe for picking corpus
    * docs that RESEMBLE a small target domain: tokens hash into 1024
    * feature buckets, each bucket gets a target count (here the 'de'
    * slice — the p19 low-resource-upsampling tie-in) and a corpus
    * count, and every doc scores the sum over its token instances of
    * the bucket log-ratio. Log-ratios are t08's bit-bucket form —
    * bits(ct+1) - bits(cr+1), pure integer, no transcendental — plus
    * the published recipe's normalization constant bits(Nr+1) -
    * bits(Nt+1) per token (log(Nr/Nt), Nr/Nt = corpus/target token
    * totals; ADVICE r11 — without it, raw weights carry a length bias
    * across docs of different sizes), so the per-doc weight is an
    * exact long; the per-token mean is the one IEEE division. Higher =
    * more target-like; the downstream sampler feeds weights to p17's
    * exact apportionment.
    *
    * 100 TB posture: ONE token explode (cached — the bucket-count agg
    * and the scoring join both read it), one 1024-row hash agg that
    * BROADCASTS back (the scoring join is map-side), one per-doc hash
    * agg, and the 1-row token-totals broadcast (the t05/t08 scalar
    * pattern — allowlisted). Nothing vocabulary- or corpus-sized is
    * ever globally sorted.
    */
  def t28DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(
      Tables.documents(spark, dir).select("doc_id", "lang", "text"))

  /** The t28 core over any (doc_id, lang, text) frame — exposed so the
    * spec can cross-check weights against an independent in-memory
    * recomputation.
    */
  private[graft] def dsirWeightsFrom(docs: DataFrame): DataFrame = {
    val tok = graft.Caches.cache(docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("token"))
      .withColumn("bucket",
        expr("CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT)" +
          " % 1024")))
    val bc = tok.groupBy("bucket")
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "de", 1L).otherwise(0L)).as("ct"))
    // the per-token normalization constant log(Nr/Nt) in the same
    // bit-bucket arithmetic: Nr = corpus tokens, Nt = target tokens
    // (1-row frame off the 1024-row bucket counts — broadcast scalar)
    val tot = bc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val norm = bits(col("nr") + 1) - bits(col("nt") + 1)
    tok.join(broadcast(bc), Seq("bucket"))
      .withColumn("score", bits(col("ct") + 1) - bits(col("cr") + 1))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("score")).as("raw_bits"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("raw_bits") + col("n_tokens") * norm).as("dsir_weight"),
        ((col("raw_bits") + col("n_tokens") * norm).cast("double")
          / col("n_tokens")).as("mean_bits"))
      .orderBy("doc_id")
  }

  /** t29: Moving-Average Type-Token Ratio (MATTR — Covington & McFall,
    * Journal of Quantitative Linguistics 2010), the standard windowed
    * lexical-diversity measure: plain TTR (t25's readout) shrinks with
    * document length by Heaps' law, so long documents read as
    * artificially repetitive; MATTR slides a fixed W = 20-token window
    * and averages the per-window TTR, making diversity comparable
    * ACROSS lengths — the quality-filter feature that separates
    * genuinely repetitive spam from merely long documents (t26 reads
    * the same failure corpus-wide; this is the per-document gate).
    *
    * Exact-integer formulation (no per-window loop): a token instance
    * at position p whose previous same-type position is prev (0 at
    * first occurrence) counts as "distinct" in window i iff
    * i <= p <= i+W-1 and prev < i, so its total contribution over ALL
    * windows is the size of the integer interval
    * [max(1, p-W+1, prev+1), min(p, max(1, n-W+1))], and
    * Σ contributions = Σ_i distinct(window i) exactly. Documents
    * shorter than W degrade to the single clamped window (MATTR =
    * plain TTR there — the published boundary behavior). n_windows,
    * vocab and sum_distinct stay exact longs; mattr = sum_distinct /
    * (n_windows * min(W, n)) is the ONE IEEE division, matching the
    * oracle's arithmetic step-for-step.
    *
    * 100 TB posture: ZERO pre-output shuffles — every term of the
    * exact-integer formulation is a function of one document alone, so
    * the whole statistic computes inside the row (r15 restructure,
    * guide §2.4: the old plan posexploded every token instance and
    * shuffled the corpus-sized instance frame through a
    * (doc_id, token) lag-window sort plus a per-doc hash agg; now the
    * instances sort per-doc in array land — array_sort by (token, pos)
    * makes same-type instances adjacent, adjacency gives each
    * instance's prev, and one aggregate() fold sums the identical
    * interval contributions — and the only exchange left is the output
    * orderBy). vocab is size(array_distinct(toks)) — the same count
    * the prev=0 indicator summed. Per-doc work is the same
    * O(n log n) the engine sort paid, minus the shuffle.
    */
  def t29Mattr(spark: SparkSession, dir: String): DataFrame =
    mattrFrom(Tables.documents(spark, dir))

  /** t29's body over any documents frame (spec-shared). */
  private[graft] def mattrFrom(docs: DataFrame): DataFrame = {
    val W = 20
    // instances sorted (token, pos): struct array_sort orders by field
    // — equal tokens contiguous, positions ascending within a token
    val ps = "array_sort(transform(toks, (t, j) -> " +
      "struct(t AS tok, j + 1 AS p)))"
    // Σ per-instance interval [lo, hi] sizes — the window-start range
    // seeing THIS instance as the first of its type (exact longs; the
    // CASE guards the k=1 subscript, prev=0 at a type's first instance)
    val sumExpr =
      s"""aggregate(sequence(1, size(ps)), 0L, (acc, k) -> acc +
         | greatest(0L,
         |  least(CAST(ps[k-1].p AS BIGINT), nwin) -
         |  greatest(greatest(1L, CAST(ps[k-1].p AS BIGINT) - ${W - 1}),
         |    (CASE WHEN k = 1 OR ps[k-2].tok <> ps[k-1].tok THEN 0L
         |          ELSE CAST(ps[k-2].p AS BIGINT) END) + 1L) + 1L))"""
        .stripMargin
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n"),
        size(array_distinct(col("toks"))).cast("long").as("vocab"),
        expr(ps).as("ps"))
      .withColumn("nwin", greatest(lit(1L), col("n") - (W - 1)))
      .select(col("doc_id"), col("n").as("n_tokens"),
        col("nwin").as("n_windows"), col("vocab"),
        expr(sumExpr).as("sum_distinct"), col("nwin"), col("n"))
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("vocab"), col("sum_distinct"),
        (col("sum_distinct").cast("double") /
          (col("nwin") * least(lit(W.toLong), col("n"))).cast("double"))
          .as("mattr"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t29_mattr" -> (t29Mattr _),
    "t28_dsir_weights" -> (t28DsirWeights _),
    "t27_surprisal_terciles" -> (t27SurprisalTerciles _),
    "t26_simpson_diversity" -> (t26SimpsonDiversity _),
    "t25_hapax_report" -> (t25HapaxReport _),
    "t24_vocab_churn" -> (t24VocabChurn _),
    "t23_vocab_overlap" -> (t23VocabOverlap _),
    "t22_blocklist_report" -> (t22BlocklistReport _),
    "t21_vocab_growth" -> (t21VocabGrowth _),
    "t20_dataset_card" -> (t20DatasetCard _),
    "t18_keyword_extract" -> (t18KeywordExtract _),
    "t17_burstiness" -> (t17Burstiness _),
    "t16_novelty" -> (t16Novelty _),
    "t14_bpe_encode" -> (t14BpeEncode _),
    "t19_tokenizer_fertility" -> (t19TokenizerFertility _),
    "t13_bpe_merges" -> (t13BpeMerges _),
    "t12_contamination_score" -> (t12ContaminationScore _),
    "t11_heavy_tokens" -> (t11HeavyTokens _),
    "t10_bigram_surprisal" -> (t10BigramSurprisal _),
    "t09_zipf_fit" -> (t09ZipfFit _),
    "t01_token_counts" -> (t01TokenCounts _),
    "t08_unigram_surprisal" -> (t08UnigramSurprisal _),
    "t07_ngram_stats" -> (t07NgramStats _),
    "t02_langid" -> (t02LangId _),
    "t15_langid_confusion" -> (t15LangidConfusion _),
    "t03_quality" -> (t03Quality _),
    "t04_fingerprint" -> (t04Fingerprint _),
    "t05_tfidf" -> (t05Tfidf _),
    "t06_repetition" -> (t06Repetition _)
  )

  /** Language-ID confusion matrix: the classifier-audit query a data
    * team runs before trusting t02's detector on a new corpus — every
    * (declared lang, detected lang) cell with its count and the
    * row-normalized rate (one IEEE division of exact integers), plus a
    * diagonal flag so per-language accuracy reads straight off the
    * is_match=1 rows. Detector disagreement concentrated in one row is
    * the drift signal (a source mislabeling its lang metadata, or a
    * marker list gone stale).
    *
    * 100 TB posture: the per-doc scoring is t02's single scan; the
    * matrix is two hash aggs over cells bounded by |langs|^2 —
    * everything after the scan is tiny.
    */
  def t15LangidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = t02LangId(spark, dir)
      .groupBy("labeled_lang", "detected_lang")
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("labeled_lang").agg(sum(col("n")).as("n_labeled"))
    cells.join(tot, Seq("labeled_lang"))
      .select(col("labeled_lang"), col("detected_lang"), col("n"),
        col("n_labeled"),
        (col("n").cast("double") / col("n_labeled")).as("rate"),
        when(col("labeled_lang") === col("detected_lang"), 1L)
          .otherwise(0L).as("is_match"))
      .orderBy("labeled_lang", "detected_lang")
  }

  /** t02's full statement sans presentation sort — shared by the t02
    * oracle and t15's confusion-matrix wrapper.
    */
  private def t02Sql: String =
    s"""WITH s AS (
         |  SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS t,
         |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS score_zh
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id, labeled_lang,
         |    ${sqlMarkerCount(enMarkers)} AS score_en,
         |    ${sqlMarkerCount(frMarkers)} AS score_fr,
         |    ${sqlMarkerCount(deMarkers)} AS score_de,
         |    ${sqlMarkerCount(esMarkers)} AS score_es,
         |    score_zh
         |  FROM s
         |)
         |SELECT doc_id, labeled_lang, score_en, score_fr, score_de, score_es,
         |  score_zh,
         |  CASE WHEN score_zh > 0 THEN 'zh'
         |       WHEN greatest(score_en, score_fr, score_de, score_es) = 0
         |         THEN 'und'
         |       WHEN score_en = greatest(score_en, score_fr, score_de, score_es)
         |         THEN 'en'
         |       WHEN score_es = greatest(score_en, score_fr, score_de, score_es)
         |         THEN 'es'
         |       WHEN score_de = greatest(score_en, score_fr, score_de, score_es)
         |         THEN 'de'
         |       ELSE 'fr' END AS detected_lang
         |FROM sc""".stripMargin

  /** The t13-trained 3-round BPE vocabulary as DuckDB CTEs ending in
    * `v(word, n_chars_w, n_sym_w)` — shared verbatim by the t14 and
    * t19 oracles exactly as [[bpeVocab]] is shared by the Spark
    * bodies, so the two audits are provably trained on one tokenizer.
    */
  private val bpeVocabCtes: String =
    """WITH w AS (
      |  SELECT tok AS word, count(*) AS wn
      |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  GROUP BY tok
      |),
      |s0 AS (
      |  SELECT word, wn,
      |    array_to_string(list_transform(generate_series(1, length(word)),
      |      i -> substring(word, i, 1)), ' ') AS seq
      |  FROM w
      |),
      |p1 AS (
      |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
      |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s0),
      |       unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  GROUP BY t[i], t[i+1]
      |),
      |m1 AS (SELECT l, r FROM p1 ORDER BY n DESC, l, r LIMIT 1),
      |s1 AS (
      |  SELECT word, wn, replace(seq, (SELECT l || ' ' || r FROM m1),
      |                           (SELECT l || r FROM m1)) AS seq
      |  FROM s0
      |),
      |p2 AS (
      |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
      |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s1),
      |       unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  GROUP BY t[i], t[i+1]
      |),
      |m2 AS (SELECT l, r FROM p2 ORDER BY n DESC, l, r LIMIT 1),
      |s2 AS (
      |  SELECT word, wn, replace(seq, (SELECT l || ' ' || r FROM m2),
      |                           (SELECT l || r FROM m2)) AS seq
      |  FROM s1
      |),
      |p3 AS (
      |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
      |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s2),
      |       unnest(generate_series(1, len(t) - 1)) AS u(i)
      |  GROUP BY t[i], t[i+1]
      |),
      |m3 AS (SELECT l, r FROM p3 ORDER BY n DESC, l, r LIMIT 1),
      |s3 AS (
      |  SELECT word, wn, replace(seq, (SELECT l || ' ' || r FROM m3),
      |                           (SELECT l || r FROM m3)) AS seq
      |  FROM s2
      |),
      |v AS (
      |  SELECT word, CAST(length(word) AS BIGINT) AS n_chars_w,
      |         CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym_w
      |  FROM s3
      |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // t29: the interval-contribution MATTR — lag over (doc, token),
    // exact interval sizes summed per doc, one double division
    "t29_mattr" ->
      """WITH base AS (
        |  SELECT doc_id, string_split(text, ' ') AS ls,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |),
        |toks AS (
        |  SELECT doc_id, n, ls,
        |    CAST(unnest(generate_series(1, CAST(n AS INT))) AS BIGINT)
        |      AS p
        |  FROM base
        |),
        |inst AS (
        |  SELECT doc_id, n, p, ls[CAST(p AS INT)] AS token FROM toks
        |),
        |pv AS (
        |  SELECT doc_id, n, p,
        |    COALESCE(lag(p) OVER (PARTITION BY doc_id, token ORDER BY p),
        |      CAST(0 AS BIGINT)) AS prev
        |  FROM inst
        |),
        |c AS (
        |  SELECT doc_id, n,
        |    GREATEST(CAST(0 AS BIGINT),
        |      LEAST(p, GREATEST(CAST(1 AS BIGINT), n - 19))
        |      - GREATEST(CAST(1 AS BIGINT), p - 19, prev + 1) + 1)
        |      AS contrib,
        |    CASE WHEN prev = 0 THEN 1 ELSE 0 END AS first_occ
        |  FROM pv
        |)
        |SELECT doc_id, n AS n_tokens,
        |  GREATEST(CAST(1 AS BIGINT), n - 19) AS n_windows,
        |  CAST(SUM(first_occ) AS BIGINT) AS vocab,
        |  CAST(SUM(contrib) AS BIGINT) AS sum_distinct,
        |  CAST(SUM(contrib) AS DOUBLE)
        |    / (GREATEST(CAST(1 AS BIGINT), n - 19)
        |       * LEAST(CAST(20 AS BIGINT), n)) AS mattr
        |FROM c GROUP BY doc_id, n ORDER BY doc_id""".stripMargin,
    // t28: hashed-bucket target/corpus counts, bit-bucket log ratios
    // + the per-token bits(Nr+1)-bits(Nt+1) normalization constant,
    // per-doc integer sum + the one double division
    "t28_dsir_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST('0x' || substring(md5(token), 1, 8) AS BIGINT) % 1024
        |      AS bucket
        |  FROM (SELECT doc_id, lang,
        |          unnest(string_split(text, ' ')) AS token
        |        FROM documents)
        |),
        |bc AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ct
        |  FROM tok GROUP BY bucket
        |),
        |tot AS (
        |  SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(ct) AS BIGINT) AS nt
        |  FROM bc
        |)
        |SELECT t.doc_id, t.lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum((length(format('{:b}', b.ct + 1)) - 1)
        |    - (length(format('{:b}', b.cr + 1)) - 1))
        |    + count(*) * ((length(format('{:b}', tot.nr + 1)) - 1)
        |    - (length(format('{:b}', tot.nt + 1)) - 1)) AS BIGINT)
        |    AS dsir_weight,
        |  CAST(sum((length(format('{:b}', b.ct + 1)) - 1)
        |    - (length(format('{:b}', b.cr + 1)) - 1))
        |    + count(*) * ((length(format('{:b}', tot.nr + 1)) - 1)
        |    - (length(format('{:b}', tot.nt + 1)) - 1)) AS DOUBLE)
        |    / count(*) AS mean_bits
        |FROM tok t JOIN bc b USING (bucket) CROSS JOIN tot
        |GROUP BY t.doc_id, t.lang, tot.nr, tot.nt
        |ORDER BY t.doc_id""".stripMargin,
    // t27: t08's bit-bucket surprisal per doc, ranked within source
    // (mb_milli DESC, doc_id), tercile = (3*(rank-1)) // source size —
    // exact integer arithmetic end to end; the cell mean is the one
    // double division against the corpus-total bits
    "t27_surprisal_terciles" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |),
        |cf AS (SELECT token, count(*) AS cf FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_total FROM cf),
        |pd AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(format('{:b}', cf)) - 1) AS BIGINT)
        |      AS sum_bucket
        |  FROM tok t JOIN cf USING (token) GROUP BY t.doc_id
        |),
        |sc AS (
        |  SELECT pd.*, d.source,
        |    sum_bucket * 1000000 // n_tokens AS mb_milli
        |  FROM pd JOIN documents d ON d.doc_id = pd.doc_id
        |),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |      ORDER BY mb_milli DESC, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM sc
        |),
        |cells AS (
        |  SELECT source, CAST((3 * (rk - 1)) // n_src AS BIGINT)
        |      AS tercile,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |    CAST(sum(sum_bucket) AS BIGINT) AS sumb
        |  FROM rk GROUP BY 1, 2
        |)
        |SELECT source, tercile,
        |  CASE tercile WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |    ELSE 'tail' END AS bucket,
        |  n_docs, n_tokens,
        |  CAST((length(format('{:b}', t.n_total)) - 1) * n_tokens - sumb
        |    AS DOUBLE) / n_tokens AS mean_surprisal_bits
        |FROM cells CROSS JOIN tot t
        |ORDER BY source, tercile""".stripMargin,
    // t25: per-source token-frequency table folded to hapax/dis/vocab
    // t26: head-side concentration — repeat_pairs = sum tf*(tf-1),
    // simpson/inv_simpson each one NULL-guarded division of exact ints
    "t26_simpson_diversity" ->
      """WITH tf AS (
        |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY source, token
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CAST(tf AS HUGEINT) * (tf - 1)) AS DOUBLE)
        |    AS repeat_pairs,
        |  CASE WHEN SUM(tf) >= 2 THEN
        |    CAST(SUM(CAST(tf AS HUGEINT) * (tf - 1)) AS DOUBLE)
        |      / CAST(SUM(tf) * (SUM(tf) - 1) AS DOUBLE) END AS simpson,
        |  CASE WHEN SUM(CAST(tf AS HUGEINT) * (tf - 1)) > 0 THEN
        |    CAST(SUM(tf) * (SUM(tf) - 1) AS DOUBLE)
        |      / CAST(SUM(CAST(tf AS HUGEINT) * (tf - 1)) AS DOUBLE)
        |      END AS inv_simpson
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    "t25_hapax_report" ->
      """WITH tf AS (
        |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  GROUP BY source, token
        |)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS vocab,
        |  CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dis,
        |  CASE WHEN COUNT(*) > 0 THEN
        |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / COUNT(*) END AS hapax_share,
        |  CASE WHEN SUM(tf) > 0 THEN
        |    CAST(COUNT(*) AS DOUBLE) / SUM(tf) END AS type_token_ratio
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,

    // t24: d27's split rule, per-snapshot distinct token sets, one fold
    "t24_vocab_churn" ->
      """WITH tok AS (
        |  SELECT DISTINCT is_inc, token FROM (
        |    SELECT CAST(CASE WHEN doc_id % 10 < 2 THEN 1 ELSE 0 END
        |             AS BIGINT) AS is_inc,
        |           unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |),
        |flags AS (
        |  SELECT token, CAST(MAX(is_inc) AS BIGINT) AS has_inc,
        |         CAST(MAX(1 - is_inc) AS BIGINT) AS has_ref
        |  FROM tok GROUP BY token
        |),
        |agg AS (
        |  SELECT CAST(SUM(has_ref) AS BIGINT) AS vocab_ref,
        |    CAST(SUM(has_inc) AS BIGINT) AS vocab_inc,
        |    CAST(SUM(has_ref * has_inc) AS BIGINT) AS n_common,
        |    CAST(SUM(has_inc * (1 - has_ref)) AS BIGINT) AS n_new,
        |    CAST(SUM(has_ref * (1 - has_inc)) AS BIGINT) AS n_dropped
        |  FROM flags
        |)
        |SELECT vocab_ref, vocab_inc, n_common, n_new, n_dropped,
        |  CASE WHEN vocab_inc > 0
        |    THEN CAST(n_new AS DOUBLE) / vocab_inc END AS new_share,
        |  CASE WHEN vocab_ref > 0
        |    THEN CAST(n_dropped AS DOUBLE) / vocab_ref END AS dropped_share,
        |  CASE WHEN vocab_ref + vocab_inc > 0
        |    THEN CAST(n_common AS DOUBLE) /
        |      (vocab_ref + vocab_inc - n_common) END AS jaccard
        |FROM agg""".stripMargin,

    // t23: distinct (source, token) frame, token-keyed pair counts,
    // zero-kept source-pair spine
    "t23_vocab_overlap" ->
      """WITH sv AS (
        |  SELECT DISTINCT source, token FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |),
        |sz AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS v FROM sv GROUP BY source
        |),
        |pr AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM sv a JOIN sv b ON b.token = a.token AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT x.source AS src_a, y.source AS src_b,
        |  x.v AS vocab_a, y.v AS vocab_b,
        |  coalesce(p.n_common, 0) AS n_common,
        |  CAST(coalesce(p.n_common, 0) AS DOUBLE) /
        |    (x.v + y.v - coalesce(p.n_common, 0)) AS jaccard
        |FROM sz x JOIN sz y ON x.source < y.source
        |LEFT JOIN pr p ON p.src_a = x.source AND p.src_b = y.source
        |ORDER BY src_a, src_b""".stripMargin,

    // t22: fixed terms left-joined to pruned token hits + scalar total
    "t22_blocklist_report" ->
      """WITH terms AS (
        |  SELECT unnest(['crash', 'dup', 'leak', 'null', 'skew',
        |                 'spill']) AS term
        |),
        |hits AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS n_hits,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |  FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents)
        |  WHERE term IN ('crash', 'dup', 'leak', 'null', 'skew', 'spill')
        |  GROUP BY term
        |),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
        |SELECT t.term,
        |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(h.n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(h.n_docs, 0) AS DOUBLE) / tt.n_total AS doc_rate
        |FROM terms t LEFT JOIN hits h ON h.term = t.term
        |CROSS JOIN tot tt
        |ORDER BY t.term""".stripMargin,

    // t21: token -> first doc, decile membership by integer cuts,
    // lag for the per-decile delta
    "t21_vocab_growth" ->
      """WITH firsts AS (
        |  SELECT tok, min(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY tok
        |),
        |bound AS (SELECT max(doc_id) + 1 AS n_ids FROM documents),
        |lv AS (
        |  SELECT f.first_doc, b.n_ids, t.d AS decile
        |  FROM firsts f CROSS JOIN bound b,
        |       unnest(generate_series(1, 10)) AS t(d)
        |  WHERE (b.n_ids * t.d) // 10 > f.first_doc
        |),
        |v AS (
        |  SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST((n_ids * decile) // 10 AS BIGINT) AS cut_doc_id,
        |    CAST(count(*) AS BIGINT) AS vocab_size
        |  FROM lv GROUP BY decile, n_ids
        |)
        |SELECT decile, cut_doc_id, vocab_size,
        |  vocab_size - CAST(coalesce(lag(vocab_size)
        |    OVER (ORDER BY decile), 0) AS BIGINT) AS new_tokens
        |FROM v ORDER BY decile""".stripMargin,

    // t20: one (source x lang) agg + per-source total shares
    "t20_dataset_card" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source, lang
        |),
        |tot AS (
        |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
        |  FROM cells GROUP BY source
        |)
        |SELECT c.source, c.lang, c.n_docs, c.n_tokens, c.n_chars,
        |  CAST(c.n_docs AS DOUBLE) / t.src_docs AS doc_share,
        |  CAST(c.n_tokens AS DOUBLE) / t.src_tokens AS token_share
        |FROM cells c JOIN tot t ON t.source = c.source
        |ORDER BY c.source, c.lang""".stripMargin,

    // t18: tf/df tables + the bit-bucket idf, ranked per doc
    "t18_keyword_extract" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM tok
        |  GROUP BY doc_id, token
        |),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
        |    tf.tf * (length(format('{:b}', n.n_docs))
        |             - length(format('{:b}', df.df))) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN nd n
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, token ASC) AS rank
        |  FROM s
        |)
        |SELECT doc_id, rank, token, tf, df, score FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // t17: the same single-pass tf/df statement
    "t17_burstiness" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |)
        |SELECT tok, count(*) AS tf,
        |  count(DISTINCT doc_id) AS df,
        |  CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS burstiness
        |FROM t GROUP BY tok HAVING count(*) >= 100
        |ORDER BY tok""".stripMargin,

    // t16: the same first-occurrence formulation declaratively
    "t16_novelty" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |),
        |g AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(len(t)-3, 1)),
        |    i -> array_to_string(t[i:i+3], ' '))) AS gram
        |  FROM tk
        |),
        |firsts AS (
        |  SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram
        |)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*) AS novelty_rate
        |FROM g JOIN firsts f ON f.gram = g.gram
        |GROUP BY g.doc_id
        |ORDER BY g.doc_id""".stripMargin,
    // t14: t13's unrolled rounds + one final replace (the shared
    // bpeVocabCtes), then the corpus joins the encoded vocabulary for
    // per-doc symbol sums
    "t14_bpe_encode" -> (bpeVocabCtes + "," +
      """
        |dw AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents
        |)
        |SELECT dw.doc_id, count(*) AS n_words,
        |  CAST(SUM(v.n_chars_w) AS BIGINT) AS n_char_symbols,
        |  CAST(SUM(v.n_sym_w) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(v.n_chars_w) AS DOUBLE) / SUM(v.n_sym_w) AS compression
        |FROM dw JOIN v USING (word)
        |GROUP BY dw.doc_id ORDER BY dw.doc_id""".stripMargin),

    // t19: the same trained vocabulary, audited per LANGUAGE —
    // fertility (tokens/word) and compression (chars/token) by lang
    "t19_tokenizer_fertility" -> (bpeVocabCtes + "," +
      """
        |dw AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS word
        |  FROM documents
        |)
        |SELECT dw.lang, count(*) AS n_words,
        |  CAST(SUM(v.n_chars_w) AS BIGINT) AS n_char_symbols,
        |  CAST(SUM(v.n_sym_w) AS BIGINT) AS n_bpe_tokens,
        |  CAST(SUM(v.n_sym_w) AS DOUBLE) / count(*) AS fertility,
        |  CAST(SUM(v.n_chars_w) AS DOUBLE) / SUM(v.n_sym_w) AS compression
        |FROM dw JOIN v USING (word)
        |GROUP BY dw.lang ORDER BY dw.lang""".stripMargin),

    // 3 BPE rounds unrolled: each round's argmax feeds the next
    // round's replace via scalar subqueries
    "t13_bpe_merges" ->
      """WITH w AS (
        |  SELECT tok AS word, count(*) AS wn
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY tok
        |),
        |s0 AS (
        |  SELECT word, wn,
        |    array_to_string(list_transform(generate_series(1, length(word)),
        |      i -> substring(word, i, 1)), ' ') AS seq
        |  FROM w
        |),
        |p1 AS (
        |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
        |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s0),
        |       unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  GROUP BY t[i], t[i+1]
        |),
        |m1 AS (SELECT l, r, n FROM p1 ORDER BY n DESC, l, r LIMIT 1),
        |s1 AS (
        |  SELECT word, wn, replace(seq, (SELECT l || ' ' || r FROM m1),
        |                           (SELECT l || r FROM m1)) AS seq
        |  FROM s0
        |),
        |p2 AS (
        |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
        |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s1),
        |       unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  GROUP BY t[i], t[i+1]
        |),
        |m2 AS (SELECT l, r, n FROM p2 ORDER BY n DESC, l, r LIMIT 1),
        |s2 AS (
        |  SELECT word, wn, replace(seq, (SELECT l || ' ' || r FROM m2),
        |                           (SELECT l || r FROM m2)) AS seq
        |  FROM s1
        |),
        |p3 AS (
        |  SELECT t[i] AS l, t[i+1] AS r, CAST(SUM(wn) AS BIGINT) AS n
        |  FROM (SELECT wn, string_split(seq, ' ') AS t FROM s2),
        |       unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  GROUP BY t[i], t[i+1]
        |),
        |m3 AS (SELECT l, r, n FROM p3 ORDER BY n DESC, l, r LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, l AS l_sym, r AS r_sym,
        |       n AS pair_count FROM m1
        |UNION ALL SELECT CAST(2 AS BIGINT), l, r, n FROM m2
        |UNION ALL SELECT CAST(3 AS BIGINT), l, r, n FROM m3
        |ORDER BY round""".stripMargin,

    "t12_contamination_score" ->
      """WITH t AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' '))-3, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+3], ' '))) AS grams
        |  FROM documents
        |),
        |bench AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM t WHERE doc_id % 97 = 0
        |),
        |corpus AS (
        |  SELECT doc_id, len(grams) AS n_grams, grams FROM t WHERE doc_id % 97 <> 0
        |),
        |sh AS (
        |  SELECT c.doc_id, count(*) AS n_shared
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM corpus) c
        |  JOIN bench USING (gram)
        |  GROUP BY c.doc_id
        |)
        |SELECT c.doc_id, c.n_grams,
        |  CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(coalesce(s.n_shared, 0) AS DOUBLE) / c.n_grams AS overlap_frac,
        |  CAST(CASE WHEN coalesce(s.n_shared, 0) * 2 >= c.n_grams
        |       THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM corpus c LEFT JOIN sh s USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin,
    // the declarative statement of t11: plain GROUP BY + share filter
    // (the oracle may shuffle the vocabulary; the engine must not)
    "t11_heavy_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT tok, count(*) AS n_occurrences
        |FROM toks, tot
        |GROUP BY tok, n
        |HAVING count(*) * 200 > n
        |ORDER BY tok""".stripMargin,
    "t10_bigram_surprisal" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |),
        |inst AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, unnest(range(1, len(toks))) AS u(i)
        |  WHERE len(toks) >= 2
        |),
        |tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w1 FROM documents
        |),
        |cfu AS (SELECT w1, count(*) AS cfu FROM tok GROUP BY w1),
        |cfb AS (SELECT bigram, count(*) AS cfb FROM inst GROUP BY bigram),
        |a AS (
        |  SELECT i.doc_id, count(*) AS n_bigrams,
        |    SUM((length(format('{:b}', u.cfu)) - 1)
        |        - (length(format('{:b}', b.cfb)) - 1)) AS sum_bits,
        |    count(*) FILTER (b.cfb = 1) AS n_novel
        |  FROM inst i JOIN cfb b USING (bigram) JOIN cfu u USING (w1)
        |  GROUP BY i.doc_id
        |)
        |SELECT doc_id, n_bigrams,
        |  CAST(sum_bits AS DOUBLE) / n_bigrams AS mean_cond_surprisal_bits,
        |  CAST(n_novel AS DOUBLE) / n_bigrams AS novel_frac
        |FROM a ORDER BY doc_id""".stripMargin,
    "t09_zipf_fit" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents
        |),
        |cf AS (SELECT token, count(*) AS cf FROM tok GROUP BY token),
        |r AS (
        |  SELECT cf,
        |    row_number() OVER (ORDER BY cf DESC, token ASC) AS rank
        |  FROM cf
        |),
        |b AS (
        |  SELECT CAST(length(format('{:b}', rank)) - 1 AS BIGINT) AS x,
        |         CAST(length(format('{:b}', cf)) - 1 AS BIGINT) AS y,
        |         cf, rank
        |  FROM r
        |)
        |SELECT count(*) AS n_vocab,
        |  CAST(SUM(cf) AS BIGINT) AS n_tokens,
        |  CAST(count(*) * SUM(x*y) - SUM(x) * SUM(y) AS DOUBLE) /
        |    (count(*) * SUM(x*x) - SUM(x) * SUM(x)) AS zipf_slope,
        |  CAST(SUM(CASE WHEN rank <= 10 THEN cf ELSE 0 END) AS DOUBLE)
        |    / SUM(cf) AS coverage_top10
        |FROM b""".stripMargin,

    "t08_unigram_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |),
        |cf AS (SELECT token, count(*) AS cf FROM tok GROUP BY token),
        |tot AS (SELECT CAST(SUM(cf) AS BIGINT) AS n_total FROM cf),
        |a AS (
        |  SELECT t.doc_id, count(*) AS n_tokens, SUM(c.cf) AS sum_cf,
        |         SUM(length(format('{:b}', c.cf)) - 1) AS sum_bucket,
        |         count(*) FILTER (c.cf <= 2) AS n_rare
        |  FROM tok t JOIN cf c USING (token)
        |  GROUP BY t.doc_id
        |)
        |SELECT a.doc_id, a.n_tokens,
        |  CAST(a.sum_cf AS DOUBLE) / a.n_tokens / t.n_total
        |    AS mean_token_prob,
        |  CAST((length(format('{:b}', t.n_total)) - 1) * a.n_tokens
        |       - a.sum_bucket AS DOUBLE) / a.n_tokens
        |    AS mean_surprisal_bits,
        |  CAST(a.n_rare AS DOUBLE) / a.n_tokens AS rare_frac
        |FROM a CROSS JOIN tot t ORDER BY a.doc_id""".stripMargin,

    "t07_ngram_stats" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |),
        |b AS (
        |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bigram
        |  FROM t, unnest(range(1, len(toks))) AS u(i)
        |)
        |SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS doc_freq
        |FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,

    "t06_repetition" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS uniq_word_ratio,
        |  1.0 - CAST(len(list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' '))-1, 1)),
        |      i -> array_to_string(string_split(text, ' ')[i:i+1], ' '))))
        |      AS DOUBLE)
        |    / greatest(len(string_split(text, ' '))-1, 1) AS dup_bigram_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t01_token_counts" ->
      """SELECT doc_id,
        |  length(text) AS n_chars_measured,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
        |  len(regexp_extract_all(text,
        |    '[A-Z]?[a-z]{1,4}|[A-Z]+|[0-9]|[^A-Za-z0-9 ]')) AS n_subwords,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS n_cjk
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t02_langid" -> s"$t02Sql ORDER BY doc_id",

    // t15: row-normalized confusion matrix over the same t02 statement
    "t15_langid_confusion" ->
      s"""WITH base AS MATERIALIZED ($t02Sql),
         |cells AS (
         |  SELECT labeled_lang, detected_lang, count(*) AS n
         |  FROM base GROUP BY 1, 2
         |),
         |tot AS (
         |  SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_labeled
         |  FROM cells GROUP BY labeled_lang
         |)
         |SELECT c.labeled_lang, c.detected_lang, c.n, t.n_labeled,
         |  CAST(c.n AS DOUBLE) / t.n_labeled AS rate,
         |  CAST(CASE WHEN c.labeled_lang = c.detected_lang
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_match
         |FROM cells c JOIN tot t ON t.labeled_lang = c.labeled_lang
         |ORDER BY c.labeled_lang, c.detected_lang""".stripMargin,


    "t03_quality" ->
      s"""WITH b AS (
         |  SELECT doc_id, string_split(text, ' ') AS t, length(text) AS nc,
         |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS na
         |  FROM documents
         |), m AS (
         |  SELECT doc_id, len(t) AS n_tokens,
         |    CAST(na AS DOUBLE) / nc AS alpha_ratio,
         |    CAST(${sqlMarkerCount(enMarkers)} AS DOUBLE) / len(t)
         |      AS stopword_ratio,
         |    CAST(nc - len(t) + 1 AS DOUBLE) / len(t) AS avg_token_len,
         |    least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) AS len_score
         |  FROM b
         |)
         |SELECT doc_id, n_tokens, alpha_ratio, stopword_ratio, avg_token_len,
         |  len_score * 0.4 + alpha_ratio * 0.3 + stopword_ratio * 0.3
         |    AS quality_score
         |FROM m ORDER BY doc_id""".stripMargin,

    "t05_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents
        |),
        |tf AS (SELECT doc_id, token, count(*) AS tf_count
        |       FROM tok GROUP BY doc_id, token),
        |tot AS (SELECT doc_id, count(*) AS n_tokens FROM tok GROUP BY doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |x AS (
        |  SELECT tf.doc_id, tf.token, tf_count, df,
        |         (CAST(tf_count AS DOUBLE) / n_tokens) *
        |         (CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS tfidf
        |  FROM tf JOIN tot USING (doc_id) JOIN dfreq USING (token)
        |  CROSS JOIN nd
        |)
        |SELECT doc_id, token, tf_count, df, tfidf, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token ASC) AS rnk FROM x)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    "t04_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(length(text)-4, 1)),
        |      i -> md5(substring(text, i, 5)))) AS hs
        |  FROM documents
        |)
        |SELECT doc_id, len(hs) AS n_distinct_shingles,
        |  list_min(hs) AS min_hash, list_max(hs) AS max_hash,
        |  md5(list_min(hs) || list_max(hs)) AS fingerprint
        |FROM h ORDER BY doc_id""".stripMargin
  )
}
