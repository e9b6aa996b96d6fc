package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Document-level curation verdict — the composed admission decision a
  * training-data pipeline renders per document, end to end, under one
  * oracle. qd10 put the dedup COMPOSITION (LSH pairs → CC → survivorship)
  * under the hash gate; this op does the same for the gating side of the
  * pipeline: every stage below is an already-oracled primitive's exact
  * semantics, re-composed into the final keep/drop/weight table that a
  * data loader would actually consume.
  *
  * Gate order (first failing gate names the drop reason — the triage
  * convention curation dashboards use):
  *   1. `eval_holdout`  — the doc IS benchmark material (qt8's carve-out:
  *      doc_id % evalMod == 0); it must never train.
  *   2. `duplicate`     — not the canonical (min doc_id) member of its
  *      exact normalized-fingerprint family (qd1 keep-first semantics).
  *   3. `lang`          — outside the language allowlist (en/fr/de/es).
  *   4. `quality`       — fails the Gopher-style battery subset (qt20's
  *      rounded-before-compare discipline): word count >= 30, mean word
  *      length in [3,10], alphabetic-word ratio >= 0.8. The stopword rule
  *      is omitted deliberately — it is English-specific and the corpus is
  *      multilingual; language-conditional rules belong downstream.
  *   5. `contaminated`  — shares any `gramWords`-gram with the eval set
  *      (qt8's broadcast-eval-grams decontamination, existence form).
  *   6. `over_budget`   — survived every gate but lost the token-budget
  *      draw: the global budget (budgetPct% of all admitted tokens) is
  *      water-filled across sources by qt43's exact integer allocation,
  *      and each doc is admitted iff its salted hash bucket (qt7's
  *      sampling form) falls under its source's alloc-derived milli-rate.
  *   else `kept`, with a soft survivorship weight 1/family_size (the
  *   qd22 soft-dedup convention) for loss re-weighting downstream.
  *
  * Scale shape, stage by stage: the fingerprint family is ONE hash
  * shuffle on md5 (qd1); eval grams broadcast (the eval suite is tiny by
  * definition) and the contamination probe is an explode + broadcast hash
  * join + ids-only distinct (qt8); the water-fill runs entirely on the
  * S-row per-source summary (qt43's model-sized-window discipline — S is
  * bounded metadata cardinality, never corpus-sized); the rate table
  * joins back AQE size-gated (the qt9/qt11 policy — never hinted); and
  * the admission itself is a map-only hash-bucket comparison. That last
  * choice is THE 100-TB property: an exact per-source prefix-sum cutoff
  * would need a corpus-sized ordered window per source — hash-rate
  * admission needs zero extra shuffles, is deterministic, and lands
  * within quantization of the same allocation (production samplers make
  * the same trade). Everything downstream of md5 is integer or
  * round-before-compare math, so the DuckDB oracle replays the entire
  * verdict bit-for-bit.
  */
object Curation {

  def curationVerdict(spark: SparkSession, dir: String, budgetPct: Int = 55,
      gramWords: Int = 4, evalMod: Int = 29): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // parallelize the scan feeding the per-doc metric + gram map work
    // (ScanLayout: no-op whenever the scan already has >= cores splits)
    val d = ScanLayout.ensureParallel(Tables.docs(spark, dir))

    val words = split(trim(col("text")), "\\s+")
    val nWords = size(words).cast("long")
    val wordChars = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val base = d.select(
      col("doc_id"), col("source"), col("lang"),
      nWords.as("tokens"),
      round(wordChars.cast("double") / nWords, 4).as("mean_word_len"),
      round(alphaWords.cast("double") / nWords, 6).as("alpha_word_ratio"),
      Dedup.fingerprintCol(col("text")).as("fp"))

    // Gate 2 feeder: exact families, one md5-keyed shuffle (qd1 shape).
    val fam = base.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canon_id"), count(lit(1)).as("n_dups"))

    // Gate 5 feeder: qt8's decontamination, existence form.
    val grams = d.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), gramWords)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("g")).distinct()
    // no broadcast hint (r6, ADVICE): the eval slice is a FIXED FRACTION of
    // the corpus (doc_id % evalMod), so its distinct gram set grows linearly
    // with corpus size — an explicit broadcast() bypasses AQE's size gate
    // and would OOM the driver at scale, contradicting the repo's
    // fixed-size-only broadcast invariant. AQE still picks a broadcast join
    // while the set is actually small; at scale it degrades gracefully to a
    // shuffle join (the qt9/qt11 policy). qt13's bloom runtime-filter form
    // is the documented alternative when the exchange itself matters.
    val contamIds = grams.filter(col("doc_id") % evalMod =!= 0)
      .join(evalGrams, Seq("g"))
      .select(col("doc_id")).distinct()
      .withColumn("contaminated", lit(true))

    val gated = base.join(fam, Seq("fp"))
      .join(contamIds, Seq("doc_id"), "left")
      .withColumn("is_eval", col("doc_id") % evalMod === 0)
      .withColumn("is_dup", col("doc_id") =!= col("canon_id"))
      .withColumn("lang_ok", col("lang").isin("en", "fr", "de", "es"))
      .withColumn("quality_ok",
        col("tokens") >= 30L && col("mean_word_len").between(3d, 10d) &&
          col("alpha_word_ratio") >= 0.8d)
      .withColumn("contaminated", coalesce(col("contaminated"), lit(false)))
      .withColumn("pass",
        !col("is_eval") && !col("is_dup") && col("lang_ok") &&
          col("quality_ok") && !col("contaminated"))
      // materialized once per query (r6; eager per-invocation local checkpoint): the water-fill capacities AND the final verdict both
      // read the gate table, and each reference re-ran the whole upstream
      // (two base scans, the fingerprint-family aggregate, and the full
      // contamination probe — guide §2.4). This is the per-doc decision
      // table of guide §8 — narrow flags, no text.
      .localCheckpoint(true)

    // Gate 6: qt43's water-filling over per-source ADMITTED token
    // capacities — S-row summary windows only.
    val caps = gated.filter(col("pass"))
      .groupBy(col("source")).agg(sum(col("tokens")).as("capacity"))
    val byCap = Window.orderBy(col("capacity").asc, col("source").asc)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = caps
      .withColumn("i", row_number().over(byCap).cast("long"))
      .withColumn("cum", sum(col("capacity")).over(byCap))
      .withColumn("k", count(lit(1)).over(all).cast("long"))
      .withColumn("total_cap", sum(col("capacity")).over(all))
      .withColumn("budget", expr(s"total_cap * $budgetPct DIV 100"))
      .withColumn("fits",
        col("capacity") * (col("k") - col("i") + 1) <=
          col("budget") - (col("cum") - col("capacity")))
    val p = ranked.agg(
      coalesce(min(when(!col("fits"), col("i"))) - 1, max(col("i"))).as("p"))
    val rates = ranked.crossJoin(broadcast(p))
      .withColumn("cum_p", coalesce(max(when(col("i") <= col("p"),
        col("cum"))).over(Window.partitionBy(lit(1))), lit(0L)))
      .withColumn("share", when(col("k") > col("p"),
        expr("(budget - cum_p) DIV (k - p)")).otherwise(lit(0L)))
      .withColumn("rem", when(col("k") > col("p"),
        expr("(budget - cum_p) % (k - p)")).otherwise(lit(0L)))
      .withColumn("alloc", when(col("i") <= col("p"), col("capacity"))
        .otherwise(col("share") +
          when(col("i") - col("p") <= col("rem"), lit(1L)).otherwise(lit(0L))))
      .select(col("source"), expr("alloc * 1000 DIV capacity").as("rate_milli"))

    // Admission draw: qt7's salted md5 bucket — map-only, zero shuffles.
    val bucket = GraftFunctions.md5Hi60(
      concat(col("doc_id").cast("string"), lit("#curation"))) % 1000

    gated.join(rates, Seq("source"), "left")
      .withColumn("bucket", bucket)
      .select(
        col("doc_id"), col("source"), col("lang"), col("tokens"),
        col("n_dups"),
        round(lit(1.0) / col("n_dups"), 6).as("weight"),
        when(col("is_eval"), "eval_holdout")
          .when(col("is_dup"), "duplicate")
          .when(!col("lang_ok"), "lang")
          .when(!col("quality_ok"), "quality")
          .when(col("contaminated"), "contaminated")
          .when(col("bucket") >= col("rate_milli"), "over_budget")
          .otherwise("kept").as("drop_reason"),
        (col("pass") && col("bucket") < col("rate_milli"))
          .cast("int").as("kept"))
  }

  /** qp3: CORPUS HEALTH REPORT — the daily one-page dashboard a data-ops
    * rotation reads before anything ships (the monitoring face of the
    * qp1/qp2 pair): one long-format (metric, value) table carrying corpus
    * volume, token/char totals, per-language shares, the exact-duplicate
    * rate (qd1's normalized fingerprint), the quality-battery pass rate
    * (qp1's Gopher subset), eval-holdout and contamination rates (qt8's
    * existence form), and source/language breadth. Every value is an
    * exact BIGINT — counts as-is, rates as integer MILLI fractions
    * (x·1000 DIV n) — so the whole report hash-matches without a single
    * float.
    *
    * Scale shape: ONE pass builds the per-doc base (tokens, chars, lang,
    * fingerprint, quality flags), the contamination probe is qt8's
    * broadcast-eval-grams join, and every metric is a hash aggregate with
    * map-side partials; per-language rows are |lang|-bounded. The final
    * union of aggregate rows is dashboard-sized by construction.
    */
  def healthReport(spark: SparkSession, dir: String, gramWords: Int = 4,
      evalMod: Int = 29): DataFrame = {
    // parallelize the scan feeding the per-doc metric + gram map work
    // (ScanLayout: no-op whenever the scan already has >= cores splits)
    val d = ScanLayout.ensureParallel(Tables.docs(spark, dir))
    val words = split(trim(col("text")), "\\s+")
    val nWords = size(words).cast("long")
    val wordChars = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val base = d.select(
      col("doc_id"), col("lang"), col("source"),
      nWords.as("tokens"), length(col("text")).cast("long").as("chars"),
      round(wordChars.cast("double") / nWords, 4).as("mwl"),
      round(alphaWords.cast("double") / nWords, 6).as("awr"),
      Dedup.fingerprintCol(col("text")).as("fp"))
      .withColumn("quality_ok",
        (col("tokens") >= 30L && col("mwl").between(3d, 10d) &&
          col("awr") >= 0.8d).cast("long"))
      .withColumn("is_eval", (col("doc_id") % evalMod === 0).cast("long"))
      // materialized once per query (r6; eager per-invocation local checkpoint): scalars, the per-lang shares, and both rate
      // denominators read this table — four full re-derivations before
      // (guide §2.4); narrow per-doc metrics, no text
      .localCheckpoint(true)
    val grams = d.select(col("doc_id"),
      explode(Dedup.shingles(col("text"), gramWords)).as("g"))
    val evalGrams = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("g")).distinct()
    // no broadcast hint (r6, ADVICE): corpus-growing set — see curationVerdict
    val nContam = grams.filter(col("doc_id") % evalMod =!= 0)
      .join(evalGrams, Seq("g"))
      .select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("v"))
      .select(lit("contaminated_milli_raw").as("metric"), col("v").as("value"))
    def m(name: String, v: Column): Column = struct(lit(name).as("metric"),
      v.as("value"))
    val scalars = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("tokens")).as("n_tokens"),
      sum(col("chars")).as("n_chars"),
      countDistinct(col("fp")).as("n_distinct_fp"),
      sum(col("quality_ok")).as("n_quality"),
      sum(col("is_eval")).as("n_eval"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
      .select(explode(array(
        m("n_docs", col("n_docs")),
        m("n_tokens", col("n_tokens")),
        m("n_chars", col("n_chars")),
        m("mean_tokens_milli", expr("n_tokens * 1000 DIV n_docs")),
        m("exact_dup_milli",
          expr("(n_docs - n_distinct_fp) * 1000 DIV n_docs")),
        m("quality_pass_milli", expr("n_quality * 1000 DIV n_docs")),
        m("eval_holdout_milli", expr("n_eval * 1000 DIV n_docs")),
        m("n_langs", col("n_langs")),
        m("n_sources", col("n_sources")))).as("kv"))
      .select(col("kv.metric"), col("kv.value"))
    val perLang = base.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_docs"))))
      .select(concat(lit("lang_share_milli:"), col("lang")).as("metric"),
        expr("n * 1000 DIV n_docs").as("value"))
    // contamination rate needs the non-eval doc count as denominator
    val contamRate = nContam
      .crossJoin(broadcast(base.agg(
        (count(lit(1)) - sum(col("is_eval"))).as("n_train"))))
      .select(lit("contaminated_milli").as("metric"),
        expr("value * 1000 DIV n_train").as("value"))
    scalars.union(perLang).union(contamRate)
  }

  /** qp2: RELEASE MANIFEST — the artifact a data loader actually mounts:
    * qp1's admitted documents, deterministically placed into training
    * shards (qt32's salted-md5 shard hash — placement is a pure function
    * of doc_id, so a re-run of the whole pipeline, or of one shard,
    * reproduces byte-identical membership), with the per-shard summary a
    * release consumer needs to validate a download: doc count, token sum,
    * source breadth, id range, summed soft-dedup weight, and an
    * order-independent content fingerprint (sum of per-doc affine
    * fingerprints mod 2^61-1 — the qt32 convention, commutative so shard
    * hash equality survives any partitioning).
    *
    * The soft weights ride as integer MICRO-weights computed directly
    * from the family size — w_micro = round(10^6 / n_dups) carried as
    * (2·10^6 + n) DIV 2n — rather than re-scaling qp1's rounded f64
    * weight, so the manifest column is exact integer math end to end
    * (scaling the rounded double would diverge from the directly-rounded
    * value at e.g. n_dups = 6: 166667 vs 166666).
    *
    * Scale shape: everything qp1 already is, plus ONE shard-keyed hash
    * aggregate with map-side partials (shards is a fixed small constant;
    * each partial is shards-sized). The COUNT(DISTINCT source) expands to
    * a two-level aggregate on (shard, source) — bounded by shards × S.
    */
  def releaseManifest(spark: SparkSession, dir: String, shards: Int = 16,
      budgetPct: Int = 55, gramWords: Int = 4, evalMod: Int = 29): DataFrame = {
    require(shards >= 1, s"need shards >= 1, got $shards")
    val mers = lit(GraftFunctions.Mersenne61)
    val dec = (c: Column) => c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    curationVerdict(spark, dir, budgetPct, gramWords, evalMod)
      .filter(col("kept") === 1)
      .select(
        (GraftFunctions.md5Hi60(concat(lit("shard:"), col("doc_id").cast("string"))) % shards)
          .as("shard_id"),
        col("doc_id"), col("source"), col("tokens"),
        expr("(2000000 + n_dups) DIV (2 * n_dups)").as("w_micro"),
        (GraftFunctions.md5Hi60(concat(col("doc_id").cast("string"), lit(":"),
          col("tokens").cast("string"))) % mers).as("fp"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("token_sum"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("w_micro")).as("w_micro_sum"),
        (sum(dec(col("fp"))) % dec(mers)).cast("long").as("content_fp"))
  }
}
