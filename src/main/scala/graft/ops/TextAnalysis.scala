package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import org.apache.spark.sql.types.DecimalType

/** Text-analysis suite over the `documents` table: language ID, quality
  * scoring, token counting, fingerprinting. Everything is built from
  * codegen'd `functions._` expressions (no UDFs), and each op is expressible
  * in portable ANSI-ish SQL so the DuckDB oracle can replay it.
  */
object TextAnalysis {

  /** Token counting: whitespace tokens plus a BPE-ish split (letter runs,
    * digit runs, and single punctuation marks each count as one token).
    */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir).select(
      col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).as("bpeish_tokens"),
      length(col("text")).as("n_chars")
    )

  /** Quality signals: length, mean word length, punctuation / digit /
    * stopword ratios, and a composite score. All ratios rounded so the
    * oracle's double math can't drift.
    */
  def qualityScores(spark: SparkSession, dir: String): DataFrame = {
    val words = size(split(trim(col("text")), "\\s+")).cast("double")
    val chars = length(col("text")).cast("double")
    val punct = regexp_count(col("text"), lit("[\\.,;:!\\?]")).cast("double")
    val digits = regexp_count(col("text"), lit("[0-9]")).cast("double")
    val stop = regexp_count(col("text"),
      lit("\\b(the|a|and|of|to|in|is|for|on|with)\\b")).cast("double")
    Tables.docs(spark, dir).select(
      col("doc_id"),
      col("n_chars"),
      round(chars / words, 4).as("mean_word_len"),
      round(punct / chars, 6).as("punct_ratio"),
      round(digits / chars, 6).as("digit_ratio"),
      round(stop / words, 6).as("stopword_ratio"),
      qualityScore(col("text")).as("quality_score")
    )
  }

  /** qt2's composite score of one text: the word count up to 100, discounted
    * by the punctuation ratio. CleanJob's quality gate filters on it.
    */
  def qualityScore(text: Column): Column = {
    val words = size(split(trim(text), "\\s+")).cast("double")
    val chars = length(text).cast("double")
    val punct = regexp_count(text, lit("[\\.,;:!\\?]")).cast("double")
    round(least(words / lit(100.0), lit(1.0)) * (lit(1.0) - punct / chars), 6)
  }

  /** Language ID: marker-word n-gram heuristic. Counts per-language stopword
    * hits and takes the argmax (ties resolve in the fixed en>fr>de>es order);
    * no hits at all -> "und". The `lang` column in the table is the generator
    * label; `lang_agree` surfaces the heuristic's agreement with it.
    */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    def hits(markers: String): Column =
      regexp_count(GraftFunctions.lower(col("text")), lit("\\b(" + markers + ")\\b")).cast("long")
    val en = hits("the|and|of|is|was|with")
    val fr = hits("le|la|les|et|est|une")
    val de = hits("der|die|das|und|ist|mit")
    val es = hits("el|los|las|y|es|una")
    val best = greatest(en, fr, de, es)
    Tables.docs(spark, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      when(best === 0, "und")
        .when(en === best, "en")
        .when(fr === best, "fr")
        .when(de === best, "de")
        .otherwise("es").as("detected_lang"),
      en.as("en_hits"), fr.as("fr_hits"), de.as("de_hits"), es.as("es_hits")
    ).withColumn("lang_agree",
      (col("detected_lang") === col("labeled_lang")).cast("int"))
  }

  /** Corpus-level n-gram frequency: top word bigrams with counts — the
    * explode+groupBy shape of corpus statistics (vocabulary building).
    */
  def bigramFreq(spark: SparkSession, dir: String, minCount: Long = 10): DataFrame =
    Tables.docs(spark, dir)
      .select(explode(Dedup.shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minCount)

  /** Count-Min Sketch of the corpus bigram frequencies — the bounded-memory
    * shape of corpus statistics at 100 TB: instead of materializing the full
    * bigram key space (qt5's explode+groupBy), a fixed depth x width grid is
    * partially aggregated map-side and merged cellwise (one custom Catalyst
    * TypedImperativeAggregate, graft.functions.CmsSketch). Output is the
    * flattened grid, one row per cell — deterministic (md5-affine lane
    * hashes), so the DuckDB oracle reproduces every cell VALUE.
    */
  def cmsBigrams(spark: SparkSession, dir: String, depth: Int = 4,
      width: Int = 64): DataFrame =
    Tables.docs(spark, dir)
      .select(explode(Dedup.shingles(col("text"), 2)).as("item"))
      .agg(graft.functions.GraftFunctions.cmsSketch(col("item"), depth, width)
        .as("sketch"))
      .select(posexplode(col("sketch")).as(Seq("pos", "n")))
      .select(
        (col("pos") / lit(width)).cast("int").as("d"),
        pmod(col("pos"), lit(width)).cast("int").as("w"),
        col("n"))

  /** KMV distinct-cardinality sketch of the corpus bigram vocabulary — the
    * bounded-memory COUNT(DISTINCT) companion to qt6's CMS frequency grid:
    * an exact distinct shuffles the whole vocabulary; the sketch keeps the
    * k smallest distinct 60-bit md5 hashes (map-side partials, set-union
    * merge), estimating D ~ (k-1)*2^60/h_k within ~1/sqrt(k-2). Unlike HLL
    * the retained hashes are deterministic, so the DuckDB oracle reproduces
    * every row: SELECT DISTINCT hash ORDER BY hash LIMIT k.
    */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = 256): DataFrame =
    Tables.docs(spark, dir)
      .select(explode(Dedup.shingles(col("text"), 2)).as("item"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("item"), k).as("sk"))
      .select(posexplode(col("sk")).as(Seq("pos", "h")))
      .select((col("pos") + 1).cast("int").as("rank"), col("h"))

  /** HyperLogLog distinct-cardinality registers of the corpus bigram
    * vocabulary — the LOG-SPACE companion to qt12's KMV: same item stream,
    * same 60-bit md5-half hash lane, but the state is m one-byte registers
    * instead of k retained hashes, the shape that scales to per-group
    * cardinalities (a 64-byte state per key). One map-side-partial
    * aggregation, no corpus-sized shuffle; registers are pure integer math
    * (bucket = h mod m, rank = leading-zero run of h div m, max per bucket),
    * so the DuckDB oracle replays the register CONTENT exactly — unlike
    * production HLLs whose hash makes the sketch engine-private. The
    * left-join against sequence(0, m-1) pins the zero registers too (an
    * empty bucket is part of the sketch).
    */
  def hllDistinct(spark: SparkSession, dir: String, m: Int = 64): DataFrame =
    Tables.docs(spark, dir)
      .select(explode(Dedup.shingles(col("text"), 2)).as("item"))
      .agg(graft.functions.GraftFunctions.hllSketch(col("item"), m).as("sk"))
      .select(posexplode(col("sk")).as(Seq("bucket", "register")))
      .select(col("bucket").cast("int").as("bucket"),
        col("register").cast("int").as("register"))

  /** Deterministic hash sampling: keep documents whose salted-md5 bucket
    * (0..999) falls under rate*1000 — the standard way to cut a FIXED eval/
    * holdout slice from a moving corpus: reproducible across engines, runs
    * and parallelism (vs rand(), which is none of those), and membership is
    * stable as the corpus grows. Map-only, scan pruned to the id column.
    */
  def hashSample(spark: SparkSession, dir: String, rate: Double = 0.1,
      salt: String = "graft"): DataFrame = {
    val bucket = GraftFunctions.md5Hi60(
      concat(col("doc_id").cast("string"), lit("#"), lit(salt))) % 1000
    Tables.docs(spark, dir)
      .filter(bucket < math.round(rate * 1000).toInt)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Benchmark decontamination: corpus docs sharing any `gramWords`-gram
    * with an eval/benchmark set — the n-gram-collision method used to scrub
    * LLM training corpora against eval benchmarks before training. The eval
    * set is carved deterministically from the same table here (doc_id %
    * evalMod == 0); in production it is a separate small table — either way
    * the eval gram side is tiny relative to the corpus, so it BROADCASTS
    * and the corpus side is one explode + hash join + groupBy (no shuffle
    * of corpus grams). Real pipelines use 13-grams; the synthetic corpus
    * draws from a ~70-word vocabulary, so 4-grams play the same role at
    * test scale (the width is the parameter).
    */
  def contamination(spark: SparkSession, dir: String, gramWords: Int = 4,
      evalMod: Int = 29): DataFrame = {
    val grams = Tables.docs(spark, dir).select(col("doc_id"),
      explode(Dedup.shingles(col("text"), gramWords)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    grams.filter(col("doc_id") % evalMod =!= 0)
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Bloom-prefiltered decontamination — [[contamination]]'s scale upgrade.
    * qt8 broadcasts the full eval-gram SET; at production width (13-grams
    * over a large eval suite) that set is GBs. Here the eval grams fold
    * into a FIXED-size bloom bitset (mBits bits, 2 md5-affine lanes) built
    * distributedly (per-word or-masks, bit_or partials) and collected once
    * (mBits/8 bytes — 4 KB at the default); the corpus-gram stream is
    * pruned against the bitset literal BEFORE the exact join. Exactly
    * Spark's InjectRuntimeFilter shape, hand-rolled deterministically.
    *
    * Correctness is EXACT by construction: a bloom has no false negatives,
    * and false positives die in the exact verify join — so the output
    * equals [[contamination]] bit-for-bit and shares qt8's oracle.
    *
    * Unlike qt8, the verify join carries NO broadcast hint: the bloom bounds
    * what crosses the wire at a fixed 4 KB, but the eval-gram table itself
    * still grows with the eval suite, so the exact join is AQE size-gated
    * (the qt9/qt11 policy) — at test scale it auto-broadcasts, at
    * production width it falls back to a shuffle join over the (pruned,
    * bloom-surviving) probe stream.
    */
  def bloomContamination(spark: SparkSession, dir: String, gramWords: Int = 4,
      evalMod: Int = 29, mBits: Int = 32768): DataFrame = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    // materialized once per query (r6; eager per-invocation local checkpoint): the eval slice (bloom build + verify join) and the
    // train-side probe all read the gram table — 3 shingling scans before
    val grams = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(col("doc_id"),
        explode(Dedup.shingles(col("text"), gramWords)).as("g"))
      .localCheckpoint(true)
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val a = GraftFunctions.md5Hi60(col("g"))
    val b = GraftFunctions.md5Lo60(col("g"))
    def pos(i: Int): Column =
      ((a + lit(i.toLong) * b) % lit(GraftFunctions.Mersenne61)) % lit(mBits.toLong)
    val bitsRows = evalGrams
      .select(explode(array(pos(0), pos(1))).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("mask"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    bitsRows.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val bloom = typedlit(bits.toSeq)
    val pruned = grams.filter(col("doc_id") % evalMod =!= 0)
      .withColumn("p0", pos(0)).withColumn("p1", pos(1))
      .withColumn("bloom", bloom)
      .filter(
        expr("(shiftright(element_at(bloom, cast(p0 / 64 as int) + 1), cast(p0 % 64 as int)) & 1) = 1") &&
        expr("(shiftright(element_at(bloom, cast(p1 / 64 as int) + 1), cast(p1 % 64 as int)) & 1) = 1"))
      .select(col("doc_id"), col("g"))
    pruned.join(evalGrams, Seq("g")) // AQE size-gated, not hint-broadcast
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Per-document TF-IDF top terms — the classic keyword/feature extraction
    * pass: tf from a within-doc word count, idf = ln(N/df) with df and N
    * computed corpus-wide, top-k per doc via window (ties broken by term).
    *
    * The document-frequency table is VOCABULARY-sized (one row per distinct
    * term: 10^8-10^9 rows on a web corpus), so it is deliberately NOT
    * broadcast-hinted: the tf<->df join is a plain equi-join on `term` that
    * AQE size-gates — at test scale it auto-broadcasts, at web scale it
    * falls back to a shuffle join whose df side re-hashes one key column
    * (tf is already shuffled on (doc_id, term); the extra exchange is a
    * single key re-hash, not a corpus re-scan). Only the 1-row N scalar is
    * hint-broadcast.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.docs(spark, dir).select(col("doc_id"),
      explode(split(trim(GraftFunctions.lower(col("text"))), "\\s+")).as("term"))
    // materialized once per query (r6; eager per-invocation local checkpoint): the df marginal and the scoring join both read tf —
    // each re-ran the tokenize+count chain before
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.docs(spark, dir).agg(count(lit(1)).as("n"))
    val score = col("tf") * log(col("n") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(score.desc, col("term").asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), round(score, 6).as("tfidf"), col("rnk"))
  }

  /** Repetition / boilerplate signals — the Gopher-style quality filters a
    * training-data pipeline applies after dedup: documents dominated by a
    * few repeated n-grams (templated boilerplate, keyword stuffing, decode
    * loops) are cut before training.
    *
    *  - dup_word_frac: 1 - distinct words / total words;
    *  - top_bigram / top_bigram_frac: the most frequent NON-distinct word
    *    bigram and its share of all bigram slots (ties resolve to the
    *    lexicographically smallest bigram so the result is deterministic).
    *
    * Entirely MAP-ONLY: all five signals come from one pass of the native
    * repetition_profile expression (graft.functions.RepetitionProfile) —
    * per-doc state, zero shuffles. The earlier composed form (explode ->
    * (doc_id, bigram) count -> two per-doc joins) shuffled every bigram
    * instance just to re-aggregate it per doc; it survives as
    * [[repetitionSignalsComposed]] for the differential spec.
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.repetitionProfile(col("text")).as("p"))
      .filter(col("p").isNotNull) // < 2 words: no bigram slots (oracle drops too)
      .select(col("doc_id"), col("p.n_words").as("n_words"),
        round(lit(1.0) - col("p.n_distinct").cast("double") / col("p.n_words"), 6)
          .as("dup_word_frac"),
        col("p.top_bigram").as("top_bigram"), col("p.top_count").as("top_count"),
        round(col("p.top_count").cast("double") / col("p.n_bigrams"), 6)
          .as("top_bigram_frac"))

  /** The pre-round-4 composed form of [[repetitionSignals]] (explode ->
    * (doc_id, bigram) count -> two per-doc joins), kept as the differential
    * reference for the one-pass expression: OpsSpec asserts row equality.
    */
  private[graft] def repetitionSignalsComposed(spark: SparkSession, dir: String): DataFrame = {
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    val base = Tables.docs(spark, dir).select(col("doc_id"), norm.as("w"))
      .select(col("doc_id"), col("w"),
        size(col("w")).cast("long").as("n_words"),
        size(array_distinct(col("w"))).cast("long").as("n_distinct"))
    // non-distinct bigram list (guard: a 1-word doc has no bigrams, and
    // sequence(0, -1) would be a DESCENDING sequence, not empty)
    val bigrams = when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val counts = base.select(col("doc_id"), explode(bigrams).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("cnt"))
    val perDoc = counts.groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_count"), sum(col("cnt")).as("n_bigrams"))
    val topBigram = counts.join(perDoc, Seq("doc_id"))
      .filter(col("cnt") === col("top_count"))
      .groupBy(col("doc_id"))
      .agg(min(col("bigram")).as("top_bigram"))
    base.select(col("doc_id"), col("n_words"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6)
          .as("dup_word_frac"))
      .join(perDoc, Seq("doc_id"))
      .join(topBigram, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), col("dup_word_frac"),
        col("top_bigram"), col("top_count"),
        round(col("top_count").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_frac"))
  }

  /** Rare-gram novelty: how much of a document is built from corpus-rare
    * n-grams — high rare_frac flags either genuinely novel content worth
    * keeping or garbage (OCR noise, encoding damage) worth cutting, and
    * pipelines use it both ways with the quality score as the tiebreaker.
    *
    * Scale shape: the gram document-frequency table is VOCABULARY-sized, so
    * the grams<->df join is a plain shuffle equi-join on the gram (AQE
    * size-gates a broadcast at test scale; qt9's rationale). Outputs are
    * integers plus one single-division ratio — no float accumulation, so
    * the oracle reproduces every value exactly regardless of sum order.
    */
  def noveltyScores(spark: SparkSession, dir: String, rareDf: Long = 3): DataFrame = {
    val grams = Tables.docs(spark, dir).select(col("doc_id"),
      explode(Dedup.shingles(col("text"), 2)).as("g")) // distinct per doc
    val df = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(df, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") < rareDf, 1L).otherwise(0L)).as("n_rare"),
        min(col("df")).as("min_df"),
        max(col("df")).as("max_df"))
      .withColumn("rare_frac",
        round(col("n_rare").cast("double") / col("n_grams"), 6))
  }

  /** Bigram-LM quality scoring — the perplexity-style filter (CCNet,
    * Wenzek et al. "CCNet: Extracting High Quality Monolingual Datasets
    * from Web Crawl Data", 2019, trains a KenLM and cuts by per-doc
    * perplexity; this is the same shape with a
    * corpus-trained add-one-smoothed bigram model): score(doc) = mean over
    * its bigram INSTANCES of ln((c(w1w2)+1)/(c(w1)+V)). High (less negative)
    * = well-predicted/templated text, low = unusual — pipelines cut both
    * tails with the quality score as tiebreaker.
    *
    * Scale shape: bigram and unigram count tables are VOCABULARY-sized —
    * plain AQE-gated joins (qt9's rationale); everything else is map-side.
    * Float discipline: the per-instance logs are rounded to 9 digits (kills
    * last-ulp libm differences between engines), then summed in SORTED
    * order (array_sort + in-order fold on both sides), so the f64
    * accumulation is order-pinned and the oracle reproduces it exactly —
    * the portable-hash idea applied to floating-point aggregation.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    // tokenize once (r6): the bigram-instance, unigram-count and vocab
    // branches each re-ran the lower/regexp/split scan (4 parquet scans in
    // the r6 plan audit; no shared exchange exists to reuse — the count
    // tables broadcast). Persisting the normalized token table is the
    // tokenize-once discipline any LM-scoring deployment uses.
    val base = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(col("doc_id"), norm.as("w"))
      .localCheckpoint(true)
    val bigrams = when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val inst = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
    val cb = inst.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
    // vocab-sized; read twice (scoring join + the V scalar)
    val cu = base.select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(true)
    val v = cu.agg(count(lit(1)).as("v"))
    val logp = round(log((col("cb") + lit(1.0)) / (col("cu") + col("v"))), 9)
    inst.join(cb, Seq("bg"))
      .join(cu.withColumnRenamed("word", "w1"), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("logp", logp)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(aggregate(array_sort(collect_list(col("logp"))), lit(0.0d),
          (acc, x) => acc + x) / count(lit(1)), 6).as("avg_logp"))
  }

  /** qt30: interpolated Kneser-Ney bigram LM scoring — the smoothing family
    * the production perplexity filter actually uses (CCNet trains KenLM,
    * whose default is interpolated modified KN — Wenzek et al. 2019 §3;
    * Chen & Goodman 1998 §4.1.6; Heafield 2011). qt16's add-one model
    * over-penalizes rare-but-valid continuations; KN discounts observed
    * bigrams by a fixed D and redistributes the held-out mass by CONTINUATION
    * counts (how many distinct contexts a word follows), the property that
    * makes "san francisco" cheap but "the francisco" expensive:
    *
    *   P(w2|w1) = (c(w1 w2) - D)/c(w1) + (D * N1+(w1 *)/c(w1)) * Pcont(w2)
    *   Pcont(w2) = N1+(* w2) / N1+(* *),   D = 0.75 (exact in binary)
    *
    * with c(w1) = the context count (sum of bigram counts with left w1), so
    * every quantity derives from ONE bigram count table and observed
    * instances always have positive numerators (c >= 1 > D).
    *
    * Scale shape: the bigram table and its two marginal aggregations are
    * vocabulary-sized — plain AQE-gated joins (qt9/qt16's rationale); the
    * only broadcast is the 1-row N1+(* *) scalar. Float discipline: the
    * probability is f64 arithmetic over exact integer counts and the
    * exactly-representable 0.75 in a PINNED expression-tree shape (both
    * engines evaluate the identical left-associated tree), the per-instance
    * logs round to 9 digits and fold in sorted order (qt16's order-pinned
    * aggregation), so the oracle reproduces the whole score bit-for-bit.
    */
  def knLmScore(spark: SparkSession, dir: String): DataFrame = {
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    // tokenize once (the qt16 r6 rationale)
    val base = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(col("doc_id"), norm.as("w"))
      .localCheckpoint(true)
    val bigrams = when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat_ws(" ", element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val inst = base.select(col("doc_id"), explode(bigrams).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    // vocab-sized bigram count table; read by both marginals, the scoring
    // join and the N1+(* *) scalar
    val cb = inst.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      .localCheckpoint(true)
    val cbs = cb
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
    val ls = cbs.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1l"))
    val rs = cbs.groupBy(col("w2")).agg(count(lit(1)).as("n1r"))
    val nt = cb.agg(count(lit(1)).as("nt"))
    // the pinned f64 tree: X + Y*Z with X=(cb-D)/cu, Y=D*n1l/cu, Z=n1r/nt
    val p = (col("cb").cast("double") - lit(0.75d)) / col("cu") +
      (lit(0.75d) * col("n1l") / col("cu")) *
        (col("n1r").cast("double") / col("nt"))
    inst.join(cb, Seq("bg"))
      .join(ls, Seq("w1"))
      .join(rs, Seq("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("logp", round(log(p), 9))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(aggregate(array_sort(collect_list(col("logp"))), lit(0.0d),
          (acc, x) => acc + x) / count(lit(1)), 6).as("kn_logp"))
  }

  /** qt28: CCNet head/middle/tail perplexity buckets (Wenzek et al. 2019
    * §4.3) — the split every CCNet-derived corpus ships: per LANGUAGE,
    * documents are cut into thirds by LM score ([[lmScore]]'s avg_logp;
    * higher = better-predicted = "head"), and downstream training mixes
    * sample head/middle heavily and tail lightly. Thresholds are the
    * minimal descending-cumulative crossings of ceil(n/3) and ceil(2n/3),
    * closed under ties (all docs sharing a threshold score land in the
    * better bucket), so the assignment is a pure function of the score
    * table — no row_number over a corpus-sized per-language partition.
    *
    * Scale shape: the cumulative runs over the per-language (lang,
    * avg_logp) VALUE HISTOGRAM (qt17's discipline) — avg_logp is rounded
    * to 6 dp, so the histogram is bounded by the score domain (~10^7
    * cells), never by corpus size; the per-doc bucket assignment is one
    * join against the |lang|-sized threshold table. lmScore's own joins
    * are vocabulary-sized and AQE-gated (qt16).
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = lmScore(spark, dir).select(col("doc_id"), col("avg_logp"))
    // cached: the histogram chain and the final bucket assignment both read
    // the score table, and each reference re-ran the ENTIRE lmScore subtree
    // (bigram explode + three vocabulary joins + the order-pinned fold —
    // 15 scans in the r6 plan audit; guide §2.4). Two narrow columns per
    // doc — the per-doc score table CCNet materializes anyway.
    val d = Tables.docs(spark, dir).select(col("doc_id"), col("lang"))
      .join(sc, Seq("doc_id"))
      .localCheckpoint(true)
    val hist = d.groupBy(col("lang"), col("avg_logp")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("avg_logp").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = hist.withColumn("cum", sum(col("cnt")).over(w))
    val n = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n"))
    val th = c.join(n, Seq("lang"))
      .groupBy(col("lang"))
      .agg(
        max(when(col("cum") >= expr("(n + 2) DIV 3"), col("avg_logp"))).as("t1"),
        max(when(col("cum") >= expr("(2 * n + 2) DIV 3"), col("avg_logp"))).as("t2"))
    d.join(th, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("avg_logp"),
        when(col("avg_logp") >= col("t1"), "head")
          .when(col("avg_logp") >= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Deterministic stratified sampling: the k hash-smallest documents PER
    * GROUP (lang) — the fixed per-stratum quota cut (eval slices balanced
    * across languages/sources) that [[hashSample]]'s global rate cut can't
    * express. Membership is reproducible across engines, runs and
    * parallelism (salted md5 order, doc_id tiebreak), like qt7.
    *
    * Scale shape: lang has ~10^1 values over 10^12 rows, so a naive
    * row_number window over lang is a handful of giant hot partitions (the
    * documented q07 caveat). This op runs the SALTED TWO-PHASE top-k
    * instead: phase 1 ranks within (lang, salt) — buckets x |lang| evenly
    * sized partitions — and keeps k per bucket; phase 2 ranks the surviving
    * buckets*k rows per lang, now tiny. Any global top-k row is top-k within
    * its own bucket, so the result EQUALS the single-window form — which is
    * what the DuckDB oracle runs, making the equivalence machine-checked.
    *
    * (Spark 3.5+'s rank-limit pushdown additionally plants a Partial
    * WindowGroupLimit before each exchange — map-side top-k pruning that
    * bounds shuffled rows at k per map partition per key; the salt still
    * matters because the FINAL sort of a naive per-lang window runs k*P
    * rows in only |lang| reducer partitions. PlanSpec asserts both shapes.)
    */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 25,
      buckets: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = GraftFunctions.md5Hi60(concat(col("doc_id").cast("string"), lit("#strat")))
    val w1 = Window.partitionBy(col("lang"), col("salt"))
      .orderBy(col("h"), col("doc_id"))
    val w2 = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    Tables.docs(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("h", h)
      .withColumn("salt", pmod(col("doc_id"), lit(buckets)))
      .withColumn("r1", row_number().over(w1)).filter(col("r1") <= k)
      .withColumn("rnk", row_number().over(w2)).filter(col("rnk") <= k)
      .select(col("lang"), col("doc_id"), col("h"), col("rnk"), col("n_chars"))
  }

  /** Corpus-adaptive boilerplate strip — the vocabulary-pruning REWRITE pass
    * (the C4 cleaning family, Raffel et al. "Exploring the Limits of
    * Transfer Learning", 2020, section 2.2; CCNet applies the same
    * df-threshold idea): words appearing in more than maxDfPct% of documents
    * are corpus boilerplate; strip them and REASSEMBLE the surviving words in
    * their original order. Unlike qt9-qt11 (which score documents) this op
    * rewrites the text column, exercising the ordered-reconstruction shape a
    * cleaning pipeline needs: posexplode -> corpus df -> join -> groupBy doc
    * with an order-preserving rebuild (array_sort(collect_list(struct(pos,
    * word))) — positions are unique per doc, so the sort is deterministic).
    *
    * Scale shape: the word<->df join is vocabulary-sized, so like qt9/qt11 it
    * is NOT broadcast-hinted (AQE size-gates; shuffle join at web scale); the
    * reconstruction shuffles on doc_id — the same partitioning the corpus
    * already has downstream of any per-doc op. The keep predicate is integer
    * math (df*100 <= N*maxDfPct), so the oracle replays it exactly.
    */
  def dfPrune(spark: SparkSession, dir: String, maxDfPct: Int = 78): DataFrame = {
    require(maxDfPct > 0 && maxDfPct < 100, s"maxDfPct in (0,100), got $maxDfPct")
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    val words = Tables.docs(spark, dir)
      .select(col("doc_id"), posexplode(norm).as(Seq("pos", "word")))
    val df = words.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = Tables.docs(spark, dir).agg(count(lit(1)).as("n"))
    words.join(df, Seq("word"))
      .crossJoin(broadcast(n))
      .withColumn("keep", col("df") * 100 <= col("n") * maxDfPct)
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("word"))))),
          x => x.getField("word")), " ").as("pruned_text"))
  }

  /** Per-language length-distribution quantiles (p25/p50/p75/p90 of
    * n_chars) over a DETERMINISTIC hash sample — the corpus-profiling pass
    * a cleaning pipeline runs to set its length cutoffs.
    *
    * Scale shape, two deliberate choices:
    *  - the sample is qt7's salted-md5 predicate (reproducible across
    *    engines/runs/parallelism, unlike rand() or reservoir sampling), so
    *    the oracle replays membership exactly and the quantiles are EXACT
    *    values, not approximations with an epsilon;
    *  - quantiles come from the VALUE HISTOGRAM: groupBy (lang, n_chars)
    *    counts, then a per-lang cumulative window over the histogram rows.
    *    A per-lang window over raw rows would hit the q07 low-cardinality
    *    hazard (corpus/|lang| rows per partition); the histogram has at most
    *    |distinct n_chars| rows per lang regardless of corpus size. Rank
    *    selection is integer math (target = (n-1)*p/100 + 1, lower quantile,
    *    no interpolation), so both engines agree bit-for-bit.
    */
  def quantileHist(spark: SparkSession, dir: String, ratePerMille: Int = 250,
      salt: String = "quant"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bucket = GraftFunctions.md5Hi60(
      concat(col("doc_id").cast("string"), lit("#"), lit(salt))) % 1000
    val sampled = Tables.docs(spark, dir)
      .filter(bucket < ratePerMille)
      .select(col("lang"), col("n_chars"))
    val hist = sampled.groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val nSampled = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n_sampled"))
    val nTotal = Tables.docs(spark, dir).groupBy(col("lang")).agg(count(lit(1)).as("n_total"))
    def q(p: Int): Column =
      min(when(col("cum") >= expr(s"((n_sampled - 1) * $p) div 100 + 1"),
        col("n_chars"))).as(s"p$p")
    cum.join(nSampled, Seq("lang"))
      .join(nTotal, Seq("lang"))
      .groupBy(col("lang"), col("n_total"), col("n_sampled"))
      .agg(q(25), q(50), q(75), q(90))
  }

  /** Deterministic SEQUENCE PACKING — the pass that turns a cleaned corpus
    * into fixed-budget training sequences (document-contiguous concat-then-
    * chunk packing: documents are laid out in a canonical order, the running
    * token total places each one, and bin_id = start_offset div budget).
    * Output: (doc_id, n_tokens, start_offset, bin_id).
    *
    * Scale shape: the global running sum is NOT one global window (a single
    * reducer partition at corpus size). It is the classic TWO-PHASE PREFIX
    * SUM: docs range-shard by doc_id (order-preserving), each shard cumsums
    * independently (even partitions), and the S shard totals — S rows, a
    * driver-scale frame — prefix-sum into per-shard offsets that add back.
    * The DuckDB oracle runs the SINGLE global window over the same order,
    * so the two-phase == global-window equality is machine-checked (the
    * qt15 argument, applied to prefix sums). All integer math.
    */
  def packBins(spark: SparkSession, dir: String, budget: Long = 2048,
      shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.docs(spark, dir).select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    // order-preserving range shard (doc_id * shards stays in long up to
    // ~2^57 ids at 16 shards); max_id is a 1-row broadcast scalar
    val maxId = toks.agg(max(col("doc_id")).as("max_id"))
    val sharded = toks.crossJoin(broadcast(maxId))
      .withColumn("shard",
        (col("doc_id") * shards / (col("max_id") + 1)).cast("int"))
    val w1 = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = sharded.withColumn("cum_in_shard", sum(col("n_tokens")).over(w1))
    // exclusive prefix of the S shard totals: S rows total, so the
    // unpartitioned window is a deliberate driver-scale step
    val wOff = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withCum.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_offset",
        coalesce(sum(col("shard_tokens")).over(wOff), lit(0L)))
      .select(col("shard"), col("shard_offset"))
    withCum.join(offsets, Seq("shard"))
      .withColumn("start_offset",
        col("shard_offset") + col("cum_in_shard") - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div ${budget}L").as("bin_id"))
  }

  /** BPE VOCABULARY TRAINING — the tokenizer-training loop (Sennrich et al.
    * "Neural Machine Translation of Rare Words with Subword Units", 2016)
    * as iterative Spark dataflow: start from characters, repeatedly take the
    * corpus-wide most frequent adjacent symbol pair (ties: lexicographic on
    * (left, right)) and merge its non-overlapping occurrences greedily
    * left-to-right. Output: the merge table (rank, sym_l, sym_r,
    * pair_count) — the artifact a tokenizer ships.
    *
    * Scale shape: training runs on WORD TYPES with counts (vocabulary-sized,
    * not corpus-sized — the standard BPE trick), so each round is one
    * pair-explode + groupBy over the type table, a 1-row argmax collect
    * (the driver-side trainer step, like the IVF quantizer), and a map-only
    * rewrite through the native bpe_merge expression. Iterative-dataflow
    * invariant applies: the type table localCheckpoints every round.
    * The DuckDB oracle UNROLLS the same k rounds (generated CTE chain) with
    * the greedy rewrite as a list_reduce fold — every merge, tie-break and
    * count is replayed exactly.
    */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    var types = Tables.docs(spark, dir)
      .select(explode(norm).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint(true)
    val merges = Vector.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    // each round's type table is a fresh eager checkpoint; a superseded
    // round's blocks are freed by the ContextCleaner once nothing
    // references it (unpersist() on a checkpointed frame releases nothing)
    while (rank <= k && !exhausted) {
      val pairs = types
        .select(col("cnt"), posexplode(when(size(col("syms")) >= 2,
          expr("transform(sequence(0, size(syms) - 2), " +
            "i -> struct(element_at(syms, i + 1) AS l, element_at(syms, i + 2) AS r))"))
          .otherwise(array().cast("array<struct<l:string,r:string>>")))
          .as(Seq("pos", "pr")))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
      val best = pairs.orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((rank, l, r, c))
        types = types.select(
          graft.functions.GraftFunctions
            .bpeMerge(col("syms"), lit(l), lit(r)).as("syms"),
          col("cnt")).localCheckpoint(true)
        rank += 1
      }
    }
    val ss = spark
    import ss.implicits._
    merges.result().toDF("rank", "sym_l", "sym_r", "pair_count")
  }

  /** Document fingerprints: normalized-md5 (exact dedup key) plus the
    * SimHash64 rolling 64-bit fingerprint (near-dup key, custom expression).
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.docs(spark, dir).select(
      col("doc_id"),
      Dedup.fingerprintCol(col("text")).as("md5_fp"),
      graft.functions.GraftFunctions.simhash64(col("text")).as("simhash_fp")
    )

  /** qt21: DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    * Data Selection via Importance Resampling): hashed-n-gram bag-of-words
    * models over B buckets for a TARGET slice (lang = targetLang here; a
    * quality corpus in production) and the RAW pool, then per-document
    * log importance weight = sum over feature instances of
    * log p_target(bucket) - log p_raw(bucket) (add-1 smoothing over the B
    * buckets). Documents are then importance-RESAMPLED by weight — this op
    * emits the weights table that the qt7 hash-sampler consumes.
    *
    * Scale shape: feature hashing is map-only (portable md5 bucket — the
    * qt7/qt15/qt17 discipline); the fitted model is FIXED-SIZE (B buckets =
    * model state, so the broadcast obeys the fixed-size-only invariant);
    * totals are 1-row aggregates; the per-doc fold is doc-bounded. One
    * aggregation pass fits both models, one map-side-broadcast pass scores
    * — exactly DSIR's two-pass structure at 100 TB. Parity: lambda is
    * rounded to 9 digits BEFORE the per-doc sum, and the sum folds in
    * sorted order (the qt16 order-pinning), so the oracle replays the f64
    * math exactly.
    */
  def dsirWeights(spark: SparkSession, dir: String, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    val feats = hashedFeats(spark, dir, buckets)
    feats.join(broadcast(dsirLam(spark, feats, buckets, targetLang)),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        round(aggregate(array_sort(collect_list(col("lam"))), lit(0.0d),
          (acc, x) => acc + x), 6).as("log_weight"))
  }

  /** Hashed unigram+bigram features (doc_id, lang, bucket) — the shared
    * featurizer of qt21/qt24: portable md5 bucket, map-only.
    */
  private def hashedFeats(spark: SparkSession, dir: String,
      buckets: Int): DataFrame = {
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    val base = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(col("doc_id"), col("lang"), norm.as("w"))
    val unis = transform(col("w"), x => concat(lit("u:"), x))
    val bis = when(size(col("w")) >= 2,
      transform(sequence(lit(0), size(col("w")) - 2),
        i => concat(lit("b:"), element_at(col("w"), i + 1), lit(" "),
          element_at(col("w"), i + 2))))
      .otherwise(array().cast("array<string>"))
    base
      .select(col("doc_id"), col("lang"), explode(concat(unis, bis)).as("f"))
      .withColumn("bucket",
        GraftFunctions.md5Hi60(col("f")) % buckets)
      // cached: qt21 reads the featurizer 3x (bucket counts, totals, the
      // scoring join) and qt24 up to 7x through the model-fit lineage; the
      // branches shuffle on different keys (bucket vs doc_id vs none), so
      // ReusedExchange cannot dedupe them and each reference re-ran the
      // explode + md5 scan (guide §2.4). (doc_id, lang, bucket) is the
      // hashed-feature proxy table — the thing a DSIR deployment
      // materializes anyway before fitting.
      .localCheckpoint(true)
  }

  /** The fitted DSIR model: per-bucket log-likelihood-ratio weights over
    * the B-bucket spine (fixed-size — broadcast-legit model state).
    */
  private def dsirLam(spark: SparkSession, feats: DataFrame, buckets: Int,
      targetLang: String): DataFrame = {
    val isTgt = when(col("lang") === targetLang, 1L).otherwise(0L)
    val counts = feats.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_raw"), sum(isTgt).as("n_tgt"))
    val totals = feats.agg(count(lit(1)).as("t_raw"), sum(isTgt).as("t_tgt"))
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    val b = lit(buckets.toDouble)
    spine.join(counts, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_raw", "n_tgt"))
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        round(log((col("n_tgt") + 1.0d) / (col("t_tgt") + b)) -
          log((col("n_raw") + 1.0d) / (col("t_raw") + b)), 9).as("lam"))
  }

  /** qt24: quantized-classifier quality gate — the model-based filtering
    * stage (GPT-3's LR quality classifier, LLaMA/RefinedWeb's fastText
    * gates) in its production DEPLOYMENT shape: the fitted linear model is
    * SQ8-quantized (qs4's round-half-away scheme, scale = 127/max|w|) and
    * inference is pure integer arithmetic — a broadcast of the fixed-size
    * code table, one hash-aggregate logit sum per doc, and an integer
    * threshold decision. Quantization is what a billion-doc deployment
    * ships (4-8x less model traffic per executor, integer SIMD dot), and
    * the integer path is what lets the DuckDB oracle hash-match the WHOLE
    * decision — logits and keep flags — rather than settling for an
    * epsilon on f64 scores (the qs5 argument, applied to classifiers).
    *
    * The model here is qt21's DSIR discriminator fitted on the corpus
    * itself (target = `targetLang` docs) — a stand-in with the exact
    * production shape: any externally-trained weight vector drops into the
    * same broadcast + integer-dot plan.
    *
    * Scale shape: featurize map-only; model fit = one hash aggregate over
    * B buckets; quantize = B-row map; inference = broadcast join (model is
    * FIXED-SIZE, the broadcast invariant holds) + one doc-keyed hash
    * aggregate with map-side partial sums. No windows, no driver state
    * beyond the B-row model.
    */
  def classifierGate(spark: SparkSession, dir: String, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    val feats = hashedFeats(spark, dir, buckets)
    // the fitted model is B rows (fixed-size): materialize it once so the quantization
    // scale (maxAbs) and the code table don't each re-run the fit aggregates
    val lam = dsirLam(spark, feats, buckets, targetLang)
      .localCheckpoint(true)
    val maxAbs = lam.agg(max(abs(col("lam"))).as("max_abs"))
    val qmodel = lam.crossJoin(broadcast(maxAbs))
      .select(col("bucket"),
        when(col("max_abs") === 0d, lit(0L))
          .otherwise(round(col("lam") * 127d / col("max_abs")).cast("long"))
          .as("qw"))
    feats.join(broadcast(qmodel), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("qw")).as("logit_q"))
      .withColumn("kept", (col("logit_q") > 0L).cast("int"))
  }

  /** qt25: temperature-balanced domain mixture — the data-mixing pass that
    * rebalances a head-heavy corpus before training (GPT-3 §2.2's weighted
    * sampling; DoReMi/UniMax's domain temperature): each source keeps docs
    * at rate proportional to n_d^(alpha-1) so the kept mixture follows
    * n_d^alpha. alpha is pinned to 0.5 because sqrt is the one power IEEE
    * requires to be correctly rounded — both engines compute bit-identical
    * rates, so the keep decision is exactly replayable (a pow()-based
    * temperature would differ in ulps at rule boundaries). The smallest
    * domain keeps everything; a domain 100x larger keeps 10%.
    *
    * Membership is the qt7 salted-md5 predicate (deterministic across
    * engines/runs/parallelism — never rand()): keep iff
    * h(doc) mod k < floor(k * sqrt(n_min)/sqrt(n_d)).
    *
    * Scale shape: per-domain counts are one hash aggregate with map-side
    * partials (a 10^8-page mega-host combines before the shuffle); n_min is
    * a 1-row broadcast; the rate table grows with |domains| so its join is
    * NOT broadcast-hinted (AQE size-gates it, the qt9 discipline) — and the
    * head-heavy source key is exactly the skew AQE's skew-join split
    * handles. The keep predicate itself is map-only integer math.
    */
  def domainMixture(spark: SparkSession, dir: String,
      k: Int = 1000000): DataFrame = {
    val d = Tables.docs(spark, dir).select(col("doc_id"), col("source"))
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val minN = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(minN))
      .select(col("source"), col("n_docs"),
        floor(lit(k.toDouble) * sqrt(col("n_min").cast("double")) /
          sqrt(col("n_docs").cast("double"))).cast("long").as("keep_per_k"))
    val h = GraftFunctions.md5Hi60(concat(col("doc_id").cast("string"), lit("#mix"))) % k
    d.withColumn("h", h)
      .join(rates, Seq("source"))
      .select(col("doc_id"), col("source"), col("n_docs").as("domain_docs"),
        col("keep_per_k"), (col("h") < col("keep_per_k")).cast("int").as("kept"))
  }

  /** qt20: the Gopher quality-rule composite (Rae et al. 2021,
    * arXiv:2112.11446 §A1.1 — the published heuristic battery most web-text
    * pipelines run first): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, bullet-start / ellipsis-end line ratios, the
    * alphabetic-word requirement, and the >= 2 distinct required stopwords
    * rule. Map-only over codegen'd regex/array expressions — zero shuffles,
    * embarrassingly parallel at any scale. Every ratio is rounded BEFORE the
    * rule compares it, so the DuckDB replay agrees at rule boundaries.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val lines = split(col("text"), "\n")
    val nWords = size(words).cast("long")
    val nLines = size(lines).cast("long")
    val wordChars = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val symbolCount = regexp_count(col("text"), lit("#|\\.\\.\\.|…")).cast("long")
    val bulletLines = size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("long")
    val ellipsisLines = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("long")
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val lowered = GraftFunctions.lower(col("text"))
    val stopDistinct = required
      .map(sw => when(lowered.rlike("\\b" + sw + "\\b"), 1L).otherwise(0L))
      .reduce(_ + _)
    Tables.docs(spark, dir)
      .select(
        col("doc_id"),
        nWords.as("word_count"),
        round(wordChars.cast("double") / nWords, 4).as("mean_word_len"),
        round(symbolCount.cast("double") / nWords, 6).as("symbol_word_ratio"),
        round(bulletLines.cast("double") / nLines, 6).as("bullet_line_ratio"),
        round(ellipsisLines.cast("double") / nLines, 6).as("ellipsis_line_ratio"),
        round(alphaWords.cast("double") / nWords, 6).as("alpha_word_ratio"),
        stopDistinct.as("stop_distinct"))
      .withColumn("passes_gopher",
        (col("word_count").between(50L, 100000L) &&
          col("mean_word_len").between(3d, 10d) &&
          col("symbol_word_ratio") <= 0.1d &&
          col("bullet_line_ratio") < 0.9d &&
          col("ellipsis_line_ratio") < 0.3d &&
          col("alpha_word_ratio") >= 0.8d &&
          col("stop_distinct") >= 2L).cast("int"))
  }

  /** qt22: PII detection + redaction — the scrub every released web corpus
    * runs before training (emails, NANP phone numbers, IPv4 literals
    * counted and replaced with typed placeholder tokens). The synthetic
    * corpus carries no PII, so the op first PLANTS deterministic
    * doc_id-derived PII spans (the construction is replayed verbatim by the
    * oracle — the qm1 payload discipline), then runs the count + redaction
    * chain on the dirty text. Map-only regexp_count / regexp_replace over
    * codegen'd expressions — zero shuffles, embarrassingly parallel at any
    * scale. The three patterns stay inside the Java-regex ∩ RE2 common
    * subset (character classes, bounded repeats, \b) so Spark and DuckDB
    * match the same spans; replacement order (email → phone → ip) is fixed
    * and replayed.
    */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val email = concat(lit("user"), id.cast("string"), lit("@ex"),
      (id % 7).cast("string"), lit(".com"))
    val phone = concat(lit("555-"), lpad((id % 1000).cast("string"), 3, "0"),
      lit("-"), lpad(((id * 3) % 10000).cast("string"), 4, "0"))
    val ip = concat_ws(".", (id % 256).cast("string"),
      ((id * 3) % 256).cast("string"), ((id * 5) % 256).cast("string"),
      ((id * 7) % 256).cast("string"))
    val dirty = concat(
      col("text"),
      when(id % 2 === 0, concat(lit(" contact "), email)).otherwise(lit("")),
      when(id % 3 === 0, concat(lit(" call "), phone)).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" from "), ip)).otherwise(lit("")))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    Tables.docs(spark, dir)
      .select(col("doc_id"), dirty.as("dirty"))
      .select(
        col("doc_id"),
        regexp_count(col("dirty"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("dirty"), lit(phoneRe)).cast("long").as("n_phones"),
        regexp_count(col("dirty"), lit(ipRe)).cast("long").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("dirty"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
          .as("redacted"))
      .withColumn("pii_total", col("n_emails") + col("n_phones") + col("n_ips"))
  }

  /** qt23: BPE ENCODING — apply the merge table qt19 trains to tokenize the
    * corpus (Sennrich et al. 2016's inference step; completes the
    * train-then-apply tokenizer story). Encoding folds the k merges in rank
    * order through the native bpe_merge rewrite — the same greedy
    * left-to-right non-overlapping semantics training used, so encoding a
    * fresh word replays its training-time rewrite history exactly.
    *
    * Scale shape: the fold runs over WORD TYPES (vocabulary-sized — each
    * distinct word is encoded once), then token counts re-attach to the
    * corpus through a plain vocab-sized join (AQE size-gates the broadcast;
    * never hinted — the qt9/qt11 rule) and aggregate per doc. The merge
    * table itself is model-sized (k rows, driver-collected — the qt19/IVF
    * trainer pattern). Output per doc: words, BPE tokens, chars, and the
    * chars-per-token compression ratio the tokenizer ships with.
    */
  def bpeEncode(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val merges = bpeMerges(spark, dir, k).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val norm = split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ")
    val dw = Tables.docs(spark, dir)
      .select(col("doc_id"), explode(norm).as("word"))
      .filter(col("word") =!= "")
    val encoded = merges.foldLeft(split(col("word"), ""): Column) {
      case (acc, (_, l, r)) =>
        graft.functions.GraftFunctions.bpeMerge(acc, lit(l), lit(r))
    }
    val ty = dw.select(col("word")).distinct()
      .select(col("word"), size(encoded).cast("long").as("word_tokens"))
    dw.join(ty, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("word_tokens")).as("n_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens"), 6))
  }

  /** qt29: the Gopher REPETITION battery (Rae et al. 2021 §A1.1 — the
    * MassiveText repetition filter that FineWeb/Dolma/RefinedWeb all run),
    * distinct from qt20's quality heuristics and qt10's within-doc profile:
    * thirteen fractions per document —
    *
    *   - duplicate line / paragraph fraction (occurrences beyond the first
    *     of each distinct segment, over segment count),
    *   - duplicate line / paragraph CHARACTER fraction (their code-point
    *     chars, over all segment chars),
    *   - top-{2,3,4}-gram character fraction (chars of the most frequent
    *     n-gram times its count, over total word chars; ties to the
    *     byte-order-smallest gram),
    *   - dup-{5..10}-gram character fraction (chars of words covered by at
    *     least one occurrence of any n-gram appearing >= 2 times — the
    *     position-union semantics, so overlaps never double-count),
    *
    * and the pass flag at the published A1 thresholds (0.30/0.30/0.20/0.20
    * lines/paras; 0.20/0.18/0.16 top-2/3/4; 0.15..0.10 dup-5..10),
    * compared on the ROUNDED fractions (the qt20 rounded-before-compare
    * discipline). Lines/paragraphs come from qt26's deterministic md5
    * segmentation (% 5 / % 15 — the corpus has no newline structure).
    *
    * Scale shape: ONE map-only pass, zero exchanges — the native
    * gopher_repetition expression returns the 19 integer numerators/
    * denominators in a single traversal: the doc's words are interned to
    * int ids once, and segments and n-grams are counted as id runs in one
    * exact table keyed by (start, length), O(words · 10), with no string
    * built per gram. Every division happens once per doc at the column
    * layer. Scan reads (doc_id, text).
    */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionOf(Tables.docs(spark, dir)).select(
      (Seq("doc_id", "n_words") ++ GopherThresholds.map(_._1) :+ "passes_repetition")
        .map(col): _*)

  /** The qt29 fractions at the published A1 thresholds, in output order. */
  private val GopherThresholds = Seq(
    "dup_line_frac" -> 0.30, "dup_line_char_frac" -> 0.20,
    "dup_para_frac" -> 0.30, "dup_para_char_frac" -> 0.20,
    "top2_char_frac" -> 0.20, "top3_char_frac" -> 0.18,
    "top4_char_frac" -> 0.16, "dup5_char_frac" -> 0.15,
    "dup6_char_frac" -> 0.14, "dup7_char_frac" -> 0.13,
    "dup8_char_frac" -> 0.12, "dup9_char_frac" -> 0.11,
    "dup10_char_frac" -> 0.10)

  /** qt29's core over any frame with `doc_id` and `text`: the input's
    * columns carried through, plus n_words, the thirteen fractions and
    * passes_repetition. CleanJob's repetition gate filters on it.
    */
  def gopherRepetitionOf(docs: DataFrame): DataFrame = {
    def frac(num: Column, den: Column) =
      when(den === 0L, lit(0.0d))
        .otherwise(round(num.cast("double") / den, 6))
    val p = col("__gopher")
    val fracs = Seq(
      frac(p("dup_line_occ"), p("n_lines")).as("dup_line_frac"),
      frac(p("dup_line_chars"), p("line_chars")).as("dup_line_char_frac"),
      frac(p("dup_para_occ"), p("n_paras")).as("dup_para_frac"),
      frac(p("dup_para_chars"), p("para_chars")).as("dup_para_char_frac"),
      frac(p("top2_num"), p("word_chars")).as("top2_char_frac"),
      frac(p("top3_num"), p("word_chars")).as("top3_char_frac"),
      frac(p("top4_num"), p("word_chars")).as("top4_char_frac")) ++
      (5 to 10).map(n =>
        frac(p(s"dup${n}_cov"), p("word_chars")).as(s"dup${n}_char_frac"))
    docs
      .withColumn("__gopher", graft.functions.GraftFunctions.gopherRepetition(
        col("doc_id").cast("string"), col("text")))
      .select(col("*") +: p("n_words").as("n_words") +: fracs: _*)
      .drop("__gopher")
      .withColumn("passes_repetition",
        GopherThresholds.map { case (c, t) => col(c) <= t }
          .reduce(_ && _).cast("int"))
  }

  /** qt26: C4-style LINE-level cleaning (Raffel et al. 2020 §2.2; CCNet's
    * per-line pass) — the line-granular battery every released web corpus
    * runs, distinct from qt20's doc-level rules and qd12/qd14's cross-doc
    * dedup because every decision here is WITHIN one document:
    *
    *   1. segment the document into lines,
    *   2. drop lines failing per-line rules (C4: "at least 5 words",
    *      "remove lines with the word javascript" — here minWords words
    *      and a blocklist token, parameterized),
    *   3. drop exact repeats of an earlier surviving line (keep-first —
    *      C4 §2.2 "discard all but one of any three-sentence span
    *      occurring more than once", applied at line granularity),
    *   4. gate the document on >= minLines surviving lines (C4: "pages
    *      with fewer than 3 sentences"), and rebuild the text.
    *
    * The corpus has no newline structure, so lines come from the qd12-style
    * deterministic segmentation both engines replay: word i ends a line iff
    * its portable 60-bit md5 bucket over (doc_id, i) is 0 mod meanLen —
    * mean line length meanLen, reproducible across engines and parallelism.
    *
    * Scale shape: ONE map-only pass, zero exchanges — segmentation, rules,
    * dedup and rebuild run in the native c4_line_clean expression, one
    * traversal of the doc's words (PlanSpec-style assertion in the spec).
    * The keep-first step is a hash set of the rule-surviving lines, linear
    * in the doc's words — doc-bounded, never corpus-bounded; a corpus-wide
    * line-frequency gate is qd12's shape, not this one. Scan reads exactly
    * (doc_id, text).
    */
  def c4LineClean(spark: SparkSession, dir: String, meanLen: Int = 5,
      minWords: Int = 4, block: String = "dup", minLines: Int = 3): DataFrame =
    c4LineCleanOf(Tables.docs(spark, dir), meanLen, minWords, block, minLines)
      .select(Seq("doc_id", "n_lines", "n_rule_dropped", "n_dup_dropped",
        "n_kept", "kept", "clean_text").map(col): _*)

  /** qt26's core over any frame with `doc_id` and `text`: the input's
    * columns carried through, plus n_lines, n_rule_dropped, n_dup_dropped,
    * n_kept, kept and clean_text. CleanJob's line stage writes from it.
    */
  def c4LineCleanOf(docs: DataFrame, meanLen: Int = 5, minWords: Int = 4,
      block: String = "dup", minLines: Int = 3): DataFrame = {
    val p = col("__c4")
    docs
      .withColumn("__c4", GraftFunctions.c4LineClean(col("doc_id").cast("string"),
        col("text"), meanLen, minWords, block, minLines))
      .select(col("*") +: Seq("n_lines", "n_rule_dropped", "n_dup_dropped",
        "n_kept", "kept", "clean_text").map(f => p(f).as(f)): _*)
      .drop("__c4")
  }

  /** qt31: character-entropy quality profile — the compressibility-proxy
    * signal family (low char entropy or a dominant single character marks
    * binary junk, pad runs, and template spam; Dolma and Gopher gate on
    * zlib-ratio cousins of exactly this). Per doc: code-point count,
    * distinct code points, the dominant character's frequency share, and
    * Shannon entropy in nats.
    *
    * Scale shape: ONE map-only pass, zero exchanges — the native
    * char_entropy expression builds the frequency table and the
    * order-pinned entropy fold in a single traversal; the composed form
    * would explode corpus-chars rows through two hash aggregates. The two
    * fractions divide once at the column layer (round 6); the entropy
    * terms round to 9 digits pre-fold inside the expression (the qt16
    * f64-parity discipline), so the DuckDB oracle hash-matches the doubles
    * exactly.
    */
  def charEntropyProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions
    Tables.docs(spark, dir)
      .select(col("doc_id"), GraftFunctions.charEntropy(col("text")).as("e"))
      .select(
        col("doc_id"),
        col("e.n_chars").as("n_chars"),
        col("e.n_distinct").as("n_distinct"),
        round(col("e.max_count").cast("double") / col("e.n_chars"), 6)
          .as("max_char_frac"),
        round(col("e.entropy_raw"), 6).as("entropy_nats"))
  }

  /** qt38: DECONTAMINATION REWRITE — the span-removal variant of qt8/qt13:
    * instead of flagging contaminated train docs (and losing the whole
    * document), the contaminated SPANS are cut and the text rebuilt, the
    * way FineWeb/GPT-3-style pipelines decontaminate against benchmark
    * suites while keeping the surrounding clean text. Mechanically this is
    * qd14's ExactSubstr machinery pointed at an EVAL-GRAM set: positional
    * w-gram md5-60 hashes over train docs probe the distinct eval-suite
    * gram set (doc_id % evalMod == 0 plays the benchmark, as in qt8);
    * matched positions chain into islands (gap <= w), islands >= minLen
    * tokens become removal spans, and each doc's token array is cut once
    * and re-joined — qd14's gram_hashes table, island_spans fold and
    * drop_spans rebuild ([[Dedup.cutSpans]]).
    *
    * Scale shape: the probe join is AQE size-gated, never hinted — eval
    * suites grow with benchmark count (the qt13 lesson; at production
    * width the bloom prefilter composes in front of this probe unchanged).
    * The island fold groups the hits by doc_id (doc-bounded, never
    * corpus-sized); the rebuild cuts each doc's own token array after one
    * span-list join, so tokens never shuffle (the qd14 property). The
    * DuckDB oracle replays every step including the rebuild.
    *
    * Output (train docs only): (doc_id, n_tokens, n_spans, removed_tokens,
    * clean_text).
    */
  def decontaminationRewrite(spark: SparkSession, dir: String, w: Int = 4,
      evalMod: Int = 29, minLen: Int = 6): DataFrame = {
    require(w >= 1 && minLen >= w, s"need minLen >= w >= 1, got w=$w minLen=$minLen")
    // split once (r6): the eval gram set, the train-side gram scan and the
    // final rebuild all read the word table (3 scans before)
    val base = Tables.docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .localCheckpoint(true)
    val train = base.filter(col("doc_id") % evalMod =!= 0)
    val evalSet = Dedup.positionalGrams(base.filter(col("doc_id") % evalMod === 0), w)
      .select(col("gh")).distinct()
    Dedup.cutSpans(train, Dedup.positionalGrams(train, w).join(evalSet, Seq("gh")),
      w, minLen, Seq(col("doc_id")))
  }

  /** qt37: UNICODE SCRIPT PROFILE + declared-language consistency — the
    * script-level companion to qt3's n-gram language ID that production
    * crawl pipelines run FIRST (fastText langid and CLD both gate on
    * script): per document, code points are bucketed into plain
    * code-point-range scripts (latin / cyrillic / greek / arabic / hebrew /
    * cjk / hangul, plus digit / space / other — GraftImpl.scriptProfile
    * documents the exact ranges; deliberately simpler than full UCD Script
    * properties so every bucket is integer-replayable), and the dominant
    * script is the first maximal letter bucket in that fixed priority
    * order. A declared-lang = en/fr/de/es document whose dominant script
    * is not latin is mislabeled or mojibake-damaged — the cheap pre-filter
    * that runs before any model-based language ID at 100 TB.
    *
    * Scale shape: ONE map-only pass through the native `script_profile`
    * expression (codegen'd, zero exchanges — spec-asserted); the dominant
    * pick and confidence are column-layer arithmetic on the struct. The
    * DuckDB oracle replays every bucket from unicode(ch) BETWEEN tests and
    * the same priority CASE.
    */
  def scriptProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions
    val buckets = Seq("latin", "cyrillic", "greek", "arabic", "hebrew",
      "cjk", "hangul")
    val base = Tables.docs(spark, dir).select(col("doc_id"), col("lang"),
      GraftFunctions.scriptProfile(col("text")).as("p"))
    val letters = buckets.map(b => col(s"p.$b")).reduce(_ + _)
    val top = greatest(buckets.map(b => col(s"p.$b")): _*)
    val dominant = buckets.foldLeft(when(letters === 0L, lit("none"))) {
      (w, b) => w.when(col(s"p.$b") === top, lit(b))
    }.otherwise(lit("none"))
    base.select(Seq(col("doc_id"), col("lang"), col("p.n_cp").as("n_cp")) ++
      (buckets ++ Seq("digit", "space", "other"))
        .map(b => col(s"p.$b").as(b)) ++ Seq(
      letters.as("letter_cp"),
      dominant.as("dominant_script"),
      when(letters === 0L, lit(0.0))
        .otherwise(round(top.cast("double") / letters.cast("double"), 6))
        .as("script_frac")): _*)
  }

  /** qt32: training-shard manifest — the release step every published
    * dataset ships: documents are assigned to S shards by a deterministic
    * hash (so the training-order shuffle is reproducible and any shard can
    * be re-materialized independently), and the manifest row per shard
    * carries the counts a consumer validates against: docs, whitespace
    * tokens, characters, and an ORDER-INDEPENDENT content fingerprint
    * (per-doc md5_60(doc_id:n_chars) folded by modular sum in 2^61-1, so
    * Spark's map-side partial aggregation and DuckDB's sequential sum agree
    * exactly — the qd2 affine-lane modulus).
    *
    * Scale shape: one map-only projection + one S-group hash aggregate with
    * map-side partials; the manifest is model-sized (S rows) regardless of
    * corpus size. Shard skew is hash-uniform by construction — the reason
    * releases shard by hash rather than by source order.
    */
  def shardManifest(spark: SparkSession, dir: String, shards: Int = 16): DataFrame = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    val mers = lit(GraftFunctions.Mersenne61)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    Tables.docs(spark, dir)
      .select(
        (GraftFunctions.md5Hi60(concat(lit("shard:"), col("doc_id").cast("string"))) % shards)
          .as("shard_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"),
        (GraftFunctions.md5Hi60(concat(col("doc_id").cast("string"), lit(":"),
          length(col("text")).cast("string"))) % mers).as("fp"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("token_sum"),
        sum(col("chars")).as("char_sum"),
        (sum(dec(col("fp"))) % dec(mers)).cast("long").as("content_fp"))
  }

  /** qt35: PMI COLLOCATIONS — the pointwise-mutual-information bigram
    * ranking (Church & Hanks 1990) corpus linguists and tokenizer designers
    * run to find multi-word units ("new york", "machine learning") worth
    * merging: PMI(a,b) = ln(P(ab) / (P(a)P(b))) over token OCCURRENCE
    * counts (not qt5's doc counts), reported for bigrams above a minimum
    * count with the top-k by PMI.
    *
    * Float parity (qt16 discipline): the argument of the single ln is the
    * exact integer rational c_ab·N_w·N_w / (c_a·c_b·N_b) evaluated in f64
    * with PINNED association on both engines, and the ln rounds to 9
    * digits.
    *
    * Scale shape: two explode+hash-aggregates (unigrams, bigrams) with
    * map-side partials; the unigram re-attach is a vocab-sized plain join
    * (AQE size-gates it — never hinted, per the broadcast invariant); the
    * corpus totals are 1-row aggregates (crossJoin-legit); the final top-k
    * plans as TakeOrderedAndProject. No windows, nothing corpus-quadratic.
    */
  def pmiCollocations(spark: SparkSession, dir: String, minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    // tokenize once (the qt16 r6 rationale): unigram counts, totals, bigram
    // counts and totals each re-ran the normalize+split scan (4x)
    val w = ScanLayout.ensureParallel(Tables.docs(spark, dir)).select(
      split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " ").as("w"))
      .localCheckpoint(true)
    val uni = w.select(explode(col("w")).as("word"))
    val cu = uni.groupBy(col("word")).agg(count(lit(1)).as("c"))
    val nw = uni.agg(count(lit(1)).as("n_w"))
    val bigrams = w.filter(size(col("w")) >= 2).select(explode(expr(
      "transform(sequence(1, size(w)-1), " +
        "i -> concat(element_at(w, i), ' ', element_at(w, i+1)))"))
      .as("bigram"))
    val cb = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val nb = bigrams.agg(count(lit(1)).as("n_b"))
    cb.withColumn("wa", element_at(split(col("bigram"), " "), 1))
      .withColumn("wb", element_at(split(col("bigram"), " "), 2))
      .join(cu.select(col("word").as("wa"), col("c").as("c_a")), Seq("wa"))
      .join(cu.select(col("word").as("wb"), col("c").as("c_b")), Seq("wb"))
      .crossJoin(nw).crossJoin(nb)
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        round(log(col("c_ab").cast("double") * col("n_w") * col("n_w") /
          (col("c_a").cast("double") * col("c_b") * col("n_b"))), 9)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(topK)
  }

  /** qt36: KMV SET-OPERATION ESTIMATES across two corpus shards — the
    * mergeable-sketch algebra that makes cross-shard distinct statistics
    * tractable at 100 TB (Beyer, Haas, Reinwald, Sismanis & Gemulla 2007,
    * SIGMOD — "On synopses for distinct-value estimation under multiset
    * operations"): each shard keeps only its k-smallest-distinct-hash
    * sketch of the token vocabulary (qt12's bounded state, map-side
    * partials + set-union merge), and the union size, Jaccard, and
    * intersection size of ANY two shards are then computed from the two
    * k-long sketches alone — no re-scan of either shard, the reason
    * production systems ship per-partition sketches to a coordinator
    * instead of shuffling vocabularies. The item stream is qt12's word
    * bigrams (the interesting cross-shard vocabulary; single tokens are
    * generator-bounded at small SF).
    *
    * Estimators (all replayed exactly by the oracle): with U_k the k-th
    * smallest retained hash, D̂ = (k-1)·2^60/U_k (exact count when the
    * sketch is under-full); the merged sketch is the k smallest of the
    * union of the two sketch sets; Ĵ = |{h ∈ merged : h ∈ A ∧ h ∈ B}|/|merged|
    * and the intersection is Ĵ·Û. The exact per-shard/union/intersection
    * counts ride along (the qs10 evaluation-harness pattern — the
    * estimator's input AND its ground truth under one hash gate).
    *
    * Float parity: (k-1)·2^60 is exactly representable in f64 (8-bit
    * mantissa × 2^60), both engines compute the same IEEE divisions with
    * PINNED parenthesization, and every estimate rounds to 6 digits.
    *
    * Scale shape: one explode + ONE partially-aggregated groupBy(half)
    * whose state is k longs per shard (the qt12 bound); the set algebra
    * runs on two 1-row frames (crossJoin-legit, fixed-size per the
    * broadcast invariant). The exact side is one distinct aggregate —
    * the part a real 100-TB run would OMIT; it is here as ground truth.
    */
  def kmvSetOps(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val toks = Tables.docs(spark, dir).select(
      (col("doc_id") % 2).cast("int").as("half"),
      explode(Dedup.shingles(col("text"), 2)).as("item"))
    val sk = toks.groupBy(col("half"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("item"), k).as("sk"))
    val a = sk.filter(col("half") === 0).select(col("sk").as("ska"))
    val b = sk.filter(col("half") === 1).select(col("sk").as("skb"))
    val exact = toks
      .groupBy(col("item"))
      .agg(min(col("half")).as("mn"), max(col("half")).as("mx"))
      .agg(
        sum(when(col("mn") === 0, 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("mx") === 1, 1L).otherwise(0L)).as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(when(col("mn") === 0 && col("mx") === 1, 1L).otherwise(0L))
          .as("exact_inter"))
    // (k-1)*2^60: both factors are powers-of-two-exact in f64, the product
    // is exact, and DuckDB's `(k-1).0 * 1152921504606846976.0` matches it
    val num = (k - 1).toDouble * 1.152921504606846976e18
    val est = (s: Column) =>
      when(size(s) < k, size(s).cast("double"))
        .otherwise(round(lit(num) / element_at(s, k).cast("double"), 6))
    a.crossJoin(b).crossJoin(exact)
      .withColumn("merged",
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k))
      .withColumn("hits",
        size(filter(col("merged"), h =>
          array_contains(col("ska"), h) && array_contains(col("skb"), h)))
          .cast("long"))
      .select(
        lit(k).as("k"),
        size(col("ska")).cast("long").as("sk_a_size"),
        size(col("skb")).cast("long").as("sk_b_size"),
        est(col("ska")).as("est_a"),
        est(col("skb")).as("est_b"),
        size(col("merged")).cast("long").as("merged_size"),
        est(col("merged")).as("est_union"),
        col("hits"),
        round(col("hits").cast("double") / size(col("merged")).cast("double"), 6)
          .as("jaccard_est"),
        when(size(col("merged")) < k, col("hits").cast("double"))
          .otherwise(round(
            (col("hits").cast("double") *
              (lit(num) / element_at(col("merged"), k).cast("double"))) /
              size(col("merged")).cast("double"), 6))
          .as("est_inter"),
        col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"))
  }

  /** qt39: DISTRIBUTION-DRIFT monitoring between two corpus shards — the
    * between-snapshot check a production pipeline runs before admitting a
    * new crawl (did the token distribution move?): Jensen-Shannon
    * divergence between the shards' hashed-token distributions over a
    * FIXED B-bucket spine (qt21's hashed-feature discipline — state is B
    * cells regardless of vocabulary size, which is what lets two 50-TB
    * snapshots be compared from two 256-row summaries shipped to a
    * coordinator, the qt36 sketch-algebra story for DISTRIBUTIONS).
    *
    * Shards are doc_id parity (the qt36 snapshot-A/B convention); every
    * token INSTANCE counts (a distribution, not a vocabulary). Per bucket,
    * with add-1 smoothing, p = (c_a+1)/(n_a+B), q = (c_b+1)/(n_b+B),
    * m = (p+q)/2, and the bucket's JSD term is
    * (p·ln(p/m) + q·ln(q/m))·0.5 — exactly 0 when the bucket is balanced
    * (ln 1), non-negative by the log-sum inequality, and the terms sum to
    * the corpus drift scalar in [0, ln 2].
    *
    * Float parity (the qt16/qt35 discipline): counts are exact int64;
    * p/q/m are single IEEE divisions of exactly-converted int64s with
    * PINNED parenthesization; each term takes its lns once and rounds to
    * 9 digits, so both engines agree bit for bit.
    *
    * Scale shape: one map-only bucketing pass + ONE hash aggregate with
    * map-side partials down to ≤ 2B cells, re-attached to the fixed
    * B-row spine (crossJoin against the broadcast 1-row totals — the
    * N/V/max_id discipline) — no corpus-sized shuffle, no window,
    * bounded state by construction.
    *
    * Output: one row per bucket, zero-count buckets included:
    * (bucket, cnt_a, cnt_b, jsd_term).
    */
  def jsdDrift(spark: SparkSession, dir: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val words = Tables.docs(spark, dir).select(
      (col("doc_id") % 2).cast("int").as("half"),
      explode(split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")), " "))
        .as("w"))
      .filter(col("w") =!= "")
    val cells = words.select(col("half"),
      (GraftFunctions.md5Hi60(col("w")) % buckets).as("bucket"))
      .groupBy(col("half"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    val joined = spine
      .join(cells.filter(col("half") === 0)
        .select(col("bucket"), col("c").as("cnt_a")), Seq("bucket"), "left")
      .join(cells.filter(col("half") === 1)
        .select(col("bucket"), col("c").as("cnt_b")), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = words.groupBy()
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
    joined.crossJoin(broadcast(totals))
      .withColumn("p", (col("cnt_a") + lit(1L)).cast("double") /
        (col("n_a") + lit(buckets.toLong)).cast("double"))
      .withColumn("q", (col("cnt_b") + lit(1L)).cast("double") /
        (col("n_b") + lit(buckets.toLong)).cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0d))
      .select(col("bucket"), col("cnt_a"), col("cnt_b"),
        round((col("p") * log(col("p") / col("m")) +
          col("q") * log(col("q") / col("m"))) * lit(0.5d), 9).as("jsd_term"))
  }

  /** qt39's histogram leg, reusable: the hashed-token bucket histogram of
    * ANY documents frame on the fixed spine — (bucket, cnt), non-empty
    * buckets only. This is the 256-row summary a snapshot ships to the
    * drift monitor ([[jsdAgainst]], [[graft.streaming.StreamOps]]).
    */
  def tokenHistogram(documents: DataFrame, buckets: Int = 256): DataFrame =
    documents
      .select(explode(split(trim(regexp_replace(GraftFunctions.lower(col("text")), "\\s+", " ")),
        " ")).as("w"))
      .filter(col("w") =!= "")
      .select((GraftFunctions.md5Hi60(col("w")) % buckets).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))

  /** One-row JSD of a batch histogram against a reference histogram (both
    * (bucket, cnt) on the same spine) — the qt39 math with the corpus-scan
    * step already done, so a STREAM can drift-check each micro-batch
    * against yesterday's persisted 256-row summary without ever touching
    * the reference corpus. Output: (n_batch, n_ref, jsd) with jsd the
    * 6-dp-rounded sum of the per-bucket 9-dp terms.
    */
  def jsdAgainst(batchHist: DataFrame, refHist: DataFrame,
      buckets: Int = 256): DataFrame = {
    val spark = batchHist.sparkSession
    val spine = spark.range(buckets).select(col("id").as("bucket"))
    val joined = spine
      .join(batchHist.select(col("bucket"), col("cnt").as("cnt_a")),
        Seq("bucket"), "left")
      .join(refHist.select(col("bucket"), col("cnt").as("cnt_b")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val totals = joined.groupBy()
      .agg(sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"))
    joined.crossJoin(broadcast(totals))
      .withColumn("p", (col("cnt_a") + lit(1L)).cast("double") /
        (col("n_a") + lit(buckets.toLong)).cast("double"))
      .withColumn("q", (col("cnt_b") + lit(1L)).cast("double") /
        (col("n_b") + lit(buckets.toLong)).cast("double"))
      .withColumn("m", (col("p") + col("q")) / lit(2.0d))
      .withColumn("term", round((col("p") * log(col("p") / col("m")) +
        col("q") * log(col("q") / col("m"))) * lit(0.5d), 9))
      .groupBy()
      .agg(first(col("n_a")).as("n_batch"), first(col("n_b")).as("n_ref"),
        round(sum(col("term")), 6).as("jsd"))
  }

  /** qt42: per-SOURCE quality profile — the source-level dashboard crawl
    * curation actually gates on (a bad source is dropped wholesale before
    * any per-document filter runs). Every ratio is computed as
    * AGGREGATE-OF-SUMS, not mean-of-ratios: per-source exact int64 sums of
    * chars/words/punct/digits/stopword hits, then ONE pinned IEEE division
    * per ratio (round 6) — no per-doc float ever enters an order-free
    * aggregation, so the whole report hash-matches (the CLAUDE.md
    * sum-doubles pitfall, solved structurally instead of with decimal
    * factors).
    *
    * Scale shape: one map-only count pass + ONE hash aggregate to
    * source-count rows with map-side partials; scan prunes to
    * (source, text). Output: (source, n_docs, n_chars, n_words, n_punct,
    * n_digits, n_stop, chars_per_word, punct_ratio, digit_ratio,
    * stopword_ratio).
    */
  def sourceProfile(spark: SparkSession, dir: String): DataFrame = {
    val words = size(split(trim(col("text")), "\\s+")).cast("long")
    val chars = length(col("text")).cast("long")
    val punct = regexp_count(col("text"), lit("[\\.,;:!\\?]")).cast("long")
    val digits = regexp_count(col("text"), lit("[0-9]")).cast("long")
    val stop = regexp_count(col("text"),
      lit("\\b(the|a|and|of|to|in|is|for|on|with)\\b")).cast("long")
    Tables.docs(spark, dir)
      .select(col("source"), chars.as("c"), words.as("w"), punct.as("p"),
        digits.as("d"), stop.as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_chars"),
        sum(col("w")).as("n_words"), sum(col("p")).as("n_punct"),
        sum(col("d")).as("n_digits"), sum(col("s")).as("n_stop"))
      .select(col("source"), col("n_docs"), col("n_chars"), col("n_words"),
        col("n_punct"), col("n_digits"), col("n_stop"),
        round(col("n_chars").cast("double") / col("n_words").cast("double"), 6)
          .as("chars_per_word"),
        round(col("n_punct").cast("double") / col("n_chars").cast("double"), 6)
          .as("punct_ratio"),
        round(col("n_digits").cast("double") / col("n_chars").cast("double"), 6)
          .as("digit_ratio"),
        round(col("n_stop").cast("double") / col("n_words").cast("double"), 6)
          .as("stopword_ratio"))
  }

  /** qt41: NEAR-DUP contamination — the LSH leg of the decontamination
    * family: qt8/qt13 flag and qt38 cuts EXACT n-gram overlap, but a
    * benchmark dump that was reformatted, re-punctuated, or lightly
    * paraphrased shares few exact 4-grams while remaining a
    * whole-document near-duplicate of the eval text. This op runs the
    * qd7 portable banded-MinHash machinery ASYMMETRICALLY (train × eval,
    * the qd9 batch-vs-corpus shape): band keys on both sides, one
    * bucket join, exact-Jaccard verify at the dedup threshold (the shared
    * [[graft.ops.Dedup]] shingle base and verify join). The eval
    * suite is the qt8 deterministic slice (doc_id % evalMod == 0).
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs),
    * so its band table is tiny and AQE broadcasts it; the train side
    * shuffles band keys once ([[graft.ops.Dedup.bandTableOf]], cap
    * guard included). Everything downstream of the candidate join is
    * pair-bounded.
    *
    * Output: (doc_id, eval_id, jaccard) — train docs near-matching an
    * eval doc; dropping them is one anti-join downstream.
    */
  def nearContamination(spark: SparkSession, dir: String,
      shingleSize: Int = 2, threshold: Double = 0.2,
      evalMod: Int = 29): DataFrame = {
    val base = Dedup.signedBase(spark, dir, shingleSize)
    val evalSh = base.filter(col("doc_id") % evalMod === 0)
    val trainSh = base.filter(col("doc_id") % evalMod =!= 0)
    val cand = Dedup.bandTableOf(trainSh).as("t")
      .join(Dedup.bandTableOf(evalSh).as("e"), col("t.bkey") === col("e.bkey"))
      .select(col("t.doc_id").as("doc_a"), col("e.doc_id").as("doc_b"))
      .distinct()
    Dedup.verified(cand, trainSh, evalSh, threshold)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("eval_id"), col("jaccard"))
  }

  /** qt40: READABILITY scoring (Flesch 1948 Reading Ease + Flesch-Kincaid
    * 1975 grade level) — the classic prose-complexity gate corpus filters
    * run beside qt2's surface ratios (very low readability flags OCR noise
    * and boilerplate; very high flags word salad). Counts are the standard
    * deterministic heuristics, all in the Java∩RE2 regex subset:
    * sentences = runs of [.!?] (clamped >= 1), syllables = vowel-group runs
    * [aeiouy]+ over the lowered text (the plain vowel-group variant —
    * documented: no-vowel words contribute 0, no per-word minimum).
    *
    * Float parity: the three integer counts convert exactly; the two
    * rate divisions and the affine formulas (206.835 − 1.015·wps −
    * 84.6·spw; 0.39·wps + 11.8·spw − 15.59) are pinned-parenthesization
    * IEEE ops on f64 with constants CAST explicitly on the oracle side
    * (DuckDB decimal literals would otherwise compute in DECIMAL),
    * rounded to 6.
    *
    * Scale shape: ONE map-only pass, zero exchanges, scan pruned to
    * (doc_id, text) — the qt1/qt2 family.
    *
    * Output: (doc_id, n_words, n_sentences, n_syllables, wps, spw,
    * flesch, fk_grade).
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val w = size(split(trim(col("text")), "\\s+")).cast("long")
    val s = greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"),
      lit(1L))
    val syl = regexp_count(GraftFunctions.lower(col("text")), lit("[aeiouy]+")).cast("long")
    val wps = col("n_words").cast("double") / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / col("n_words").cast("double")
    Tables.docs(spark, dir)
      .select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_syllables"))
      .withColumn("wps_raw", wps)
      .withColumn("spw_raw", spw)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        round(col("wps_raw"), 6).as("wps"),
        round(col("spw_raw"), 6).as("spw"),
        round(lit(206.835d) - lit(1.015d) * col("wps_raw") -
          lit(84.6d) * col("spw_raw"), 6).as("flesch"),
        round(lit(0.39d) * col("wps_raw") + lit(11.8d) * col("spw_raw") -
          lit(15.59d), 6).as("fk_grade"))
  }

  /** qt33: sliding-window token chunking — the context-window sharding step
    * every RAG index and fixed-length pretraining pipeline runs: each
    * document's whitespace tokens become overlapping chunks of `win` tokens
    * at stride `stride` (overlap win-stride), and each chunk row carries its
    * position plus a 60-bit md5 content fingerprint (the portable lane both
    * engines compute identically), so chunk-level dedup/contamination can
    * join on fp without re-materializing text.
    *
    * Chunk starts are 0, stride, 2*stride, ... < n_tokens, so every token is
    * covered and the final (possibly short) tail chunk is emitted — the
    * convention LangChain/LlamaIndex splitters and GPT-style packing share.
    *
    * Scale shape: ONE map-only pass with a bounded explode (ceil(n/stride)
    * rows per doc, ~n/stride fanout) — zero exchanges; the parquet scan
    * prunes to (doc_id, text). Downstream chunk-dedup is qd1's hash collapse
    * on chunk_fp.
    */
  def chunkWindows(spark: SparkSession, dir: String, win: Int = 64,
      stride: Int = 48): DataFrame = {
    require(win >= 1 && stride >= 1 && stride <= win,
      s"need 1 <= stride <= win, got win=$win stride=$stride")
    Tables.docs(spark, dir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .select(col("doc_id"), col("words"),
        posexplode(sequence(lit(0), size(col("words")) - 1, lit(stride)))
          .as(Seq("ci", "start")))
      .select(
        col("doc_id"),
        col("ci").cast("long").as("chunk_id"),
        col("start").cast("long").as("start_tok"),
        least(lit(win), size(col("words")) - col("start")).cast("long")
          .as("n_toks"),
        GraftFunctions.md5Hi60(array_join(slice(col("words"), col("start") + 1, lit(win)), " "))
          .as("chunk_fp"))
  }

  /** qt34: weighted sampling without replacement (Efraimidis–Spirakis
    * "Weighted random sampling with a reservoir", IPL 2006 — the A-ES
    * scheme): each row draws u ~ U(0,1) from the portable md5 lane and keys
    * on ln(u)/w; the global top-k by key IS an exact weighted
    * without-replacement sample (P(first pick = i) = w_i / sum w). The
    * weight here is a deterministic per-doc integer (1 + n_chars mod 64)
    * standing in for any quality/domain weight a curation pass produces.
    *
    * Float parity: ln(u) rounds to 9 digits before the division and the key
    * rounds again after (the qt16 discipline); ties at the rounded key break
    * by doc_id in both engines.
    *
    * Scale shape: orderBy(key).limit(k) compiles to TakeOrderedAndProject —
    * per-partition top-k heaps + a driver merge of P*k rows, NO global sort,
    * NO window — the same bounded shape as q19. The scan prunes to
    * (doc_id, text-length) columns.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val h = GraftFunctions.md5Hi60(concat(col("doc_id").cast("string"), lit(":wsamp")))
    val u = (h.cast("double") + lit(1.0d)) / lit(1152921504606846976.0d) // 2^60
    val w = (lit(1) + col("n_chars") % 64).cast("long")
    Tables.docs(spark, dir)
      .select(col("doc_id"), w.as("weight"),
        round(round(log(u), 9) / w, 9).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(k)
  }

  /** qt43: TOKEN-BUDGET allocation across sources under per-source repeat
    * caps — the data-constrained mixing planner (Muennighoff et al. 2022,
    * "Scaling Data-Constrained Language Models": repeating data has
    * diminishing returns, and different source types tolerate different
    * epoch counts). Each source's CAPACITY is its token count times its
    * max-epoch tolerance (here 1–4 epochs from the portable md5 lane of
    * the source name — the stand-in for a per-source policy table); the
    * training budget B = 55% of total capacity is then WATERFILLED: walk
    * sources in ascending capacity order, a source whose full capacity
    * fits under an equal split of the remaining budget takes it all, and
    * the first source that doesn't starts the equal-share suffix (the
    * capped set is provably a prefix of the capacity order). All integer
    * math — levels are floor divisions, the leftover r tokens go to the r
    * lowest-ranked uncapped sources — so the whole plan replays exactly.
    *
    * Scale shape: one hash aggregate to source granularity (map-side
    * partials over the corpus), then every window runs on the
    * SOURCE-count-sized table — model-sized, like qc1's centroid state;
    * no corpus-sized window anywhere.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSource = Tables.docs(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("tokens"))
      .withColumn("max_epochs",
        lit(1L) + GraftFunctions.md5Hi60(col("source")) % 4)
      .withColumn("capacity", col("tokens") * col("max_epochs"))
    val byCap = Window.orderBy(col("capacity").asc, col("source").asc)
    val ranked = perSource
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("cum", sum(col("capacity")).over(byCap))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).cast("long"))
      .withColumn("total_cap", sum(col("capacity")).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .withColumn("budget", expr("total_cap * 55 DIV 100"))
      // source i fits iff cap_i <= equal split of what's left before it
      .withColumn("fits",
        col("capacity") * (col("k") - col("i") + 1) <=
          col("budget") - (col("cum") - col("capacity")))
    // the capped PREFIX ends before the first source that doesn't fit
    val p = ranked.agg(
      coalesce(min(when(!col("fits"), col("i"))) - 1, max(col("i")))
        .as("p")).select(col("p"))
    val withP = ranked.crossJoin(broadcast(p))
      .withColumn("cum_p", coalesce(max(when(col("i") <= col("p"),
        col("cum"))).over(Window.partitionBy(lit(1))), lit(0L)))
      .withColumn("share", when(col("k") > col("p"),
        expr("(budget - cum_p) DIV (k - p)")).otherwise(lit(0L)))
      .withColumn("rem", when(col("k") > col("p"),
        expr("(budget - cum_p) % (k - p)")).otherwise(lit(0L)))
    withP.select(
      col("source"), col("n_docs"), col("tokens"), col("max_epochs"),
      col("capacity"),
      when(col("i") <= col("p"), col("capacity"))
        .otherwise(col("share") +
          when(col("i") - col("p") <= col("rem"), lit(1L)).otherwise(lit(0L)))
        .as("alloc_tokens"))
      .withColumn("epochs_milli", expr("alloc_tokens * 1000 DIV tokens"))
  }

  /** qt45: Heaps'-law vocabulary-growth curve (Heaps 1978) — distinct
    * vocabulary size as a function of cumulative token count across B
    * equal doc_id-range prefixes of the corpus. The statistic behind two
    * planning decisions a training-data pipeline makes: tokenizer
    * vocabulary sizing (where does type growth flatten) and duplication
    * health (an over-duplicated corpus grows vocabulary SUBLINEARLY vs
    * the Heaps exponent its clean prefix established).
    *
    * bucket(doc) = doc_id * B / (max_id + 1) (exact integer floor; max_id
    * is the 1-row broadcast scalar, the qt32 discipline). A term's FIRST
    * bucket is a min-aggregate over its occurrences (vocabulary-keyed,
    * map-side partials — never a corpus-sized window); cum_vocab(b) then
    * counts terms with first_bucket <= b and cum_tokens(b) sums bucket
    * token counts, both via one running sum over the B-row summary (the
    * qt43 model-sized-window discipline). heaps_ratio = ln(V)/ln(T) — the
    * empirical Heaps exponent estimate at each prefix — is two lns and
    * one IEEE division on exactly-agreed int64s, round 6.
    */
  def heapsCurve(spark: SparkSession, dir: String, buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.docs(spark, dir).select(col("doc_id"),
      explode(split(trim(GraftFunctions.lower(col("text"))), "\\s+")).as("term"))
    val maxId = toks.agg(max(col("doc_id")).as("max_id"))
    // genuine integer floor division (r6, ADVICE): `/` is DOUBLE division
    // in Spark and only coincides with the oracle's // while
    // (max_id+1)*buckets stays far under 2^53 — DIV makes the Spark side
    // structurally identical to the oracle's integer floor at any scale
    val bucketed = toks.crossJoin(broadcast(maxId))
      .select(col("term"),
        expr(s"CAST(doc_id * $buckets DIV (max_id + 1) AS INT)").as("b"))
    val firstB = bucketed.groupBy(col("term")).agg(min(col("b")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("new_types"))
    val tokCnt = bucketed.groupBy(col("b")).agg(count(lit(1)).as("toks"))
    val spine = spark.range(0, buckets).select(col("id").cast("int").as("b"))
    val byB = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(tokCnt, Seq("b"), "left")
      .join(firstB.withColumnRenamed("fb", "b"), Seq("b"), "left")
      .select(col("b"), coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_tokens", sum(col("toks")).over(byB))
      .withColumn("cum_vocab", sum(col("new_types")).over(byB))
      .select(col("b").as("bucket"), col("new_types"), col("cum_tokens"),
        col("cum_vocab"),
        when(col("cum_tokens") > 1L && col("cum_vocab") > 0L,
          round(log(col("cum_vocab").cast("double")) /
            log(col("cum_tokens").cast("double")), 6)).as("heaps_ratio"))
  }

  /** qt46: Zipf rank-frequency curve (Zipf 1949) — the top-32 corpus terms
    * by occurrence count with the empirical Zipf-exponent estimate at each
    * rank, the companion statistic to qt45's Heaps curve (the two are
    * mathematically linked; together they are the corpus-health dashboard
    * a curation pipeline reads before tokenizer training: a crawl whose
    * head deviates from the Zipf line is template/boilerplate-dominated).
    *
    * Scale shape: term counts are one vocabulary-keyed hash aggregate
    * with map-side partials; the head selection is orderBy+limit, which
    * Spark plans as TakeOrderedAndProject — per-partition 32-entry heaps,
    * NO global sort (the qt34-pinned shape, and string payloads ride
    * free); the 1-row (max count, total tokens) scalar attaches by
    * broadcast crossJoin; the rank window runs on the 32-row head only.
    * zipf_exp(r) = (ln c_1 - ln c_r) / ln r for r >= 2 — three lns and
    * one IEEE division on exactly-agreed int64s, round 6.
    */
  def zipfCurve(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.docs(spark, dir).select(
        explode(split(trim(GraftFunctions.lower(col("text"))), "\\s+")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val scal = cnt.agg(max(col("cnt")).as("c1"), sum(col("cnt")).as("tot"))
    val head = cnt.orderBy(col("cnt").desc, col("term").asc).limit(k)
    head.crossJoin(broadcast(scal))
      .withColumn("rank", row_number().over( // k-row head only, never corpus
        Window.orderBy(col("cnt").desc, col("term").asc)))
      .select(col("rank"), col("term"), col("cnt"),
        round(col("cnt").cast("double") / col("tot").cast("double"), 6)
          .as("freq_share"),
        when(col("rank") >= 2,
          round((log(col("c1").cast("double")) - log(col("cnt").cast("double")))
            / log(col("rank").cast("double")), 6)).as("zipf_exp"))
  }

  /** qt47: pairwise source-overlap matrix — distinct-shingle Jaccard and
    * BOTH directed containments for every source pair, the statistic a
    * curation team reads to decide whether a new crawl snapshot or vendor
    * feed adds data or re-sells what the corpus already holds (containment,
    * not resemblance, answers that: a small feed fully inside CommonCrawl
    * has containment ~1 at negligible Jaccard).
    *
    * Scale shape: distinct (source, shingle) is one hash aggregate; the
    * pairwise intersection is a shingle-KEYED self-join (the standard
    * equi-join shape — never source-pair-enumerated against the corpus),
    * and a gram shared by s sources contributes C(s,2) <= S^2/2 pair rows,
    * bounded because source cardinality is metadata-bounded (the qt43
    * assumption). The complete matrix skeleton (including zero-overlap
    * pairs) builds from the S-row size table, so absent intersections
    * surface as explicit zeros. At true web scale the exact self-join is
    * what you'd REPLACE with per-source KMV sketches (qt36's machinery,
    * union/intersection estimates at fixed memory); this exact form is the
    * ground truth that calibrates that sketch, and is itself the 100-GB-
    * tier tool. All ratios are int64-over-int64, round 6.
    */
  def sourceOverlap(spark: SparkSession, dir: String, w: Int = 3): DataFrame = {
    // materialized once per query (r6; eager per-invocation local checkpoint): per-source sizes and BOTH self-join sides read the
    // distinct (source, gram) table — 3 shingling scans before (guide §2.4)
    val ss = Tables.docs(spark, dir)
      .select(col("source"), explode(Dedup.shingles(col("text"), w)).as("g"))
      .distinct()
      .localCheckpoint(true)
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = ss.as("a")
      .join(ss.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        col("src_a") < col("src_b"))
    pairs.join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"),
        round(col("n_inter").cast("double") / col("n_a").cast("double"), 6)
          .as("containment_a"),
        round(col("n_inter").cast("double") / col("n_b").cast("double"), 6)
          .as("containment_b"))
  }

  /** qt44: BM25 top-k retrieval (Robertson & Zaragoza 2009; the Lucene
    * +1-idf variant, k1 = 1.2, b = 0.75) — the ranked-retrieval primitive a
    * training-data pipeline runs for retrieval-based decontamination
    * ("which corpus docs does this eval query retrieve") and seed-query
    * quality mining. Queries are drawn FROM the corpus (the qt8 eval-set
    * discipline): every doc with doc_id % 97 == 0 issues its first three
    * distinct tokens as a query; score(q, d) = sum over matched terms of
    *   idf(t) * tf * (k1+1) / (tf + k1 * (0.25 + 0.75 * dl / avgdl)),
    *   idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)
    * and the top k = 5 docs per query are kept, ties broken doc_id asc.
    *
    * Float parity: the per-term score is ONE pinned f64 tree (every int
    * CAST out explicitly, constants written as the same double literals in
    * the DuckDB oracle), the per-(query, doc) sum folds the <= 3 term
    * scores in SORTED order (array_sort + left fold == list_sort +
    * list_reduce, the qt16 discipline), and rounding happens only on
    * output — so the oracle's window-form replay hash-matches.
    *
    * Scale shape: tf/df/dl are the qt9 aggregates (map-side partials); the
    * df join is vocabulary-sized and AQE-gated, never hinted; the 1-row
    * (N, sum dl) scalar attaches by broadcast crossJoin; the ranking is
    * the q19 bounded top_k_rank aggregate grouped by query_id — at most k
    * heap entries per query cross the shuffle, no corpus-sized window
    * partitions anywhere (query count grows with the corpus, so groups
    * stay fine-grained).
    *
    * THE join-explosion guard (found by the 500k-doc QueryProbe, not by
    * hashing — the CLAUDE.md time-at-scale discipline): a query term that
    * behaves like a stopword joins its ENTIRE posting list, and on a
    * small-vocabulary corpus every term does (500k docs x 64-word vocab →
    * billions of scored rows; the probe ran >600 s before the fix).
    * Production BM25 never scores full stopword postings — impact-ordered
    * indexes truncate each term's posting list to its top-M highest-impact
    * documents offline (the WAND / Anh-Moffat impact-ordering family). So
    * the per-term (doc, score) postings are truncated to the top
    * `postingsPerTerm` docs by (score DESC, doc_id ASC) with the SAME
    * bounded top_k_rank heap (vocabulary-keyed groups, map-side partials)
    * BEFORE the query join. A doc outside every query term's top-M cannot
    * be retrieved — exactly the impact-truncation contract — and the
    * DuckDB oracle REPLAYS the truncation (window form), so parity is
    * unconditional at any corpus/vocabulary ratio. Probe after the fix:
    * the same 500k-doc corpus completes in seconds (BASELINE.md).
    */
  def bm25Retrieval(spark: SparkSession, dir: String, k: Int = 5,
      qmod: Int = 97, postingsPerTerm: Int = 1000): DataFrame = {
    // tokenize once (r6): tf, dl and the query carve-out all read the
    // token table (3 normalize+split scans before); tf feeds both the df
    // marginal and the posting build
    val words = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(col("doc_id"), split(trim(GraftFunctions.lower(col("text"))), "\\s+").as("w"))
      .localCheckpoint(true)
    val tokens = words.select(col("doc_id"), explode(col("w")).as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = words.select(col("doc_id"), size(col("w")).cast("long").as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val queries = words.filter(col("doc_id") % qmod === 0)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(slice(col("w"), 1, 3))).as("term"))
    val nD = col("n").cast("double")
    val idf = log((nD - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5)) + lit(1.0))
    val avgdl = col("sdl").cast("double") / nD
    val denom = col("tf").cast("double") +
      lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
    val termScore = idf * (col("tf").cast("double") * lit(2.2)) / denom
    // impact-ordered posting truncation: per term, keep the top-M docs by
    // per-term score — the heap is bounded, groups are vocabulary-keyed
    val postings = tf
      .join(dl, Seq("doc_id"))
      .join(dfT, Seq("term")) // vocab-keyed; AQE size-gates, never hinted
      .crossJoin(broadcast(stats))
      .select(col("term"), col("doc_id"), termScore.as("s"))
      .groupBy(col("term"))
      .agg(graft.functions.GraftFunctions
        .topKRank(col("s"), col("doc_id"), postingsPerTerm).as("top"))
      .select(col("term"), explode(col("top")).as("e"))
      .select(col("term"), col("e.payload").as("doc_id"),
        col("e.sort_key").as("s"))
    val scored = queries
      .join(postings, Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(expr("aggregate(array_sort(collect_list(s)), CAST(0 AS DOUBLE), " +
        "(acc, x) -> acc + x)").as("score"))
    scored.groupBy(col("query_id"))
      .agg(graft.functions.GraftFunctions
        .topKRank(col("score"), col("doc_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("query_id"), col("e.payload").as("doc_id"),
        round(col("e.sort_key"), 6).as("score"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /** qt48: BLOCKLIST SCAN — the multi-phrase substring filter every web
    * pipeline runs before training (C4's badwords gate, contamination
    * phrase lists, policy blocklists): per document, the total occurrence
    * count and distinct-phrase count over a fixed phrase list, plus a
    * length-normalized rate and the flag decision. Matching is SUBSTRING
    * matching on the lowercased text (the automaton primitive; a
    * word-boundary variant is one anchor-char away), with overlapping
    * occurrences counted — both engines count every (position, phrase)
    * match pair.
    *
    * The scan is the native `ac_scan` Aho–Corasick expression: ONE pass
    * per document regardless of blocklist size, vs the |P| contains()
    * scans (each O(n·m)) the naive plan would run — at a 100-TB corpus
    * with real blocklists (hundreds to thousands of phrases) that is the
    * difference between one streaming read of each doc and thousands.
    * The automaton is built once from the literal list and rides the
    * plan's reference array; the whole op is map-only inside whole-stage
    * codegen (zero exchanges — PlanSpec asserts it).
    *
    * The rate is integer math (hits·10⁴ DIV chars) so the flag replays
    * exactly in DuckDB; the oracle counts the same overlapping matches
    * with a per-phrase position comprehension.
    */
  def blocklistScan(spark: SparkSession, dir: String,
      phrases: Seq[String] =
        Seq("slow scan", "hash join", "a a", "an", "merge"),
      flagPerTenK: Int = 150): DataFrame = {
    Tables.docs(spark, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_t"),
        graft.functions.GraftFunctions
          .acScan(GraftFunctions.lower(col("text")), phrases).as("s"))
      .select(col("doc_id"),
        col("s.n_hits").as("n_hits"),
        col("s.n_phrases").as("n_phrases"),
        expr("s.n_hits * 10000 DIV greatest(n_chars_t, 1)")
          .as("hits_per_10k"))
      .withColumn("flagged",
        (col("hits_per_10k") >= flagPerTenK).cast("int"))
  }

  /** qt49: TOKENIZER FERTILITY per language — the multilingual-tokenizer
    * acceptance metric (tokens/word "fertility" and chars/token
    * compression; a vocabulary that over-fragments one language trains
    * that language at a fraction of the effective context): qt23's BPE
    * encoding (qt19's trained merge table applied in rank order over word
    * TYPES) re-aggregated per language.
    *
    * Float discipline is qt42's aggregate-of-sums: per-language EXACT
    * int64 sums of words/tokens/chars, then one pinned f64 division per
    * ratio — no per-doc float ever meets an order-sensitive aggregation,
    * so the report hash-matches unconditionally.
    *
    * Scale shape: everything qt23 already is (word-type encode + vocab-
    * sized AQE-gated join), plus a lang-keyed hash aggregate with
    * map-side partials over the per-doc integer rows. |lang| is bounded
    * metadata cardinality — the output is a dashboard-sized table at any
    * corpus size.
    */
  /** qt51: SKETCHED source-overlap matrix — qt47's statistic on the
    * 100-TB path: qt47 computes exact pairwise Jaccard/containment by a
    * shingle-keyed self-join (shuffles every distinct shingle); at
    * petabyte scale the production answer is qt36's mergeable-sketch
    * algebra applied PER SOURCE — each source folds to one k-minimum-
    * values sketch (bounded state, map-side partials), and every pairwise
    * union/intersection/Jaccard estimate then comes from the S sketch
    * rows ALONE, no re-scan of any source. The S×S pair join touches
    * S·k longs total — dashboard-sized at any corpus size.
    *
    * KMV retains deterministic hashes (the qt12 argument), so unlike
    * production HLL-based overlap the ENTIRE estimate matrix is
    * hash-verified: the oracle rebuilds each source's k smallest distinct
    * 60-bit md5 hashes and replays the estimator arithmetic (the qt36
    * pinned (k-1)·2^60 numerator and CASE structure). Containment
    * estimates divide the already-rounded est columns, so both engines
    * divide identical doubles.
    */
  def sketchedOverlap(spark: SparkSession, dir: String, w: Int = 3,
      k: Int = 256): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val toks = Tables.docs(spark, dir).select(col("source"),
      explode(Dedup.shingles(col("text"), w)).as("g"))
    val sk = toks.groupBy(col("source"))
      .agg(graft.functions.GraftFunctions.kmvSketch(col("g"), k).as("sk"))
    val pairs = sk.select(col("source").as("src_a"), col("sk").as("ska"))
      .join(sk.select(col("source").as("src_b"), col("sk").as("skb")),
        col("src_a") < col("src_b"))
    val num = (k - 1).toDouble * 1.152921504606846976e18
    val est = (s: Column) => when(size(s) < k, size(s).cast("double"))
      .otherwise(round(lit(num) / element_at(s, k).cast("double"), 6))
    pairs
      .withColumn("merged",
        slice(array_sort(array_distinct(concat(col("ska"), col("skb")))), 1, k))
      .withColumn("hits",
        size(filter(col("merged"), h =>
          array_contains(col("ska"), h) && array_contains(col("skb"), h)))
          .cast("long"))
      .select(col("src_a"), col("src_b"),
        size(col("ska")).cast("long").as("sk_a_size"),
        size(col("skb")).cast("long").as("sk_b_size"),
        est(col("ska")).as("est_a"),
        est(col("skb")).as("est_b"),
        est(col("merged")).as("est_union"),
        col("hits"),
        round(col("hits").cast("double") /
          size(col("merged")).cast("double"), 6).as("jaccard_est"),
        when(size(col("merged")) < k, col("hits").cast("double"))
          .otherwise(round(
            (col("hits").cast("double") *
              (lit(num) / element_at(col("merged"), k).cast("double"))) /
              size(col("merged")).cast("double"), 6))
          .as("est_inter"))
      .withColumn("containment_a_est",
        when(col("est_a") > 0d, round(col("est_inter") / col("est_a"), 6)))
      .withColumn("containment_b_est",
        when(col("est_b") > 0d, round(col("est_inter") / col("est_b"), 6)))
  }

  /** qt50: HEAVY HITTERS — exact frequent-item counts (bigram doc
    * frequency >= a phi-fraction of the stream) computed the way a 100-TB
    * corpus has to: the qt13 sketch-as-runtime-filter pattern applied to
    * aggregation. A plain `GROUP BY item HAVING count >= T` shuffles the
    * ENTIRE vocabulary; here pass 1 folds the stream into qt6's fixed-size
    * Count-Min sketch (one TypedImperativeAggregate with map-side
    * partials, d*w longs of state regardless of vocabulary size) plus the
    * exact stream length, and pass 2 re-aggregates ONLY items whose CMS
    * estimate clears the threshold — the tail dies in a map-side filter
    * against the broadcast sketch literal BEFORE the exchange, so shuffle
    * volume drops from |vocab| to |candidates|.
    *
    * Correctness is UNCONDITIONAL (the qt13 argument): CMS only
    * over-counts, so est(x) >= count(x) and no true heavy hitter is ever
    * filtered out; false positives die on the exact post-aggregation
    * count filter. The output therefore equals the plain exact HAVING
    * query — which IS the DuckDB oracle, no sketch replay needed.
    * Threshold T = max(N DIV phiInv, 1) is exact integer math from the
    * pass-1 stream length.
    *
    * The estimate recomputes the two 60-bit md5 halves per lane under
    * CollapseProject inlining — 2·depth scalar md5 calls per item, a
    * deliberate trade (cheap scalar, no array binding — the qd15 hazard
    * does not apply) for keeping the probe map-only and codegen'd.
    */
  def heavyHitters(spark: SparkSession, dir: String, depth: Int = 4,
      width: Int = 4096, phiInv: Long = 1000): DataFrame = {
    // parallelize the scan feeding BOTH full passes (CMS build + exact
    // re-count) — each was one serial map task at the test layout
    val items = ScanLayout.ensureParallel(Tables.docs(spark, dir))
      .select(explode(Dedup.shingles(col("text"), 2)).as("item"))
    // fixed-size driver collect: d*w longs + one count (the bloom-bitset /
    // IVF-quantizer precedent, Similarity.scala:98)
    val pass1 = items.agg(
      graft.functions.GraftFunctions.cmsSketch(col("item"), depth, width)
        .as("sk"),
      count(lit(1)).as("n")).head()
    val sk = pass1.getSeq[Long](0)
    val threshold = math.max(pass1.getLong(1) / phiInv, 1L)
    val skLit = typedlit(sk)
    val a = GraftFunctions.md5Hi60(col("item"))
    val b = GraftFunctions.md5Lo60(col("item"))
    val est = (0 until depth).map { d =>
      element_at(skLit,
        (lit(d.toLong * width) +
          (a + lit(d.toLong) * b) % lit(GraftFunctions.Mersenne61) % lit(width.toLong))
          .cast("int") + 1)
    }.reduce(least(_, _))
    items.filter(est >= threshold)
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  def tokenizerFertility(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    bpeEncode(spark, dir, k)
      .join(Tables.docs(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("words"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("n_chars")).as("chars"))
      .withColumn("tokens_per_word",
        round(col("tokens").cast("double") / col("words").cast("double"), 6))
      .withColumn("chars_per_token",
        round(col("chars").cast("double") / col("tokens").cast("double"), 6))
}
