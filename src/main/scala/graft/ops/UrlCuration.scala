package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** URL-level curation — the stage web pipelines run BEFORE any text looks at
  * a byte: per-domain quotas (C4/RefinedWeb cap how much any one host may
  * contribute), domain blocklists, and URL canonicalization + exact-URL
  * dedup (the crawl frontier's first dedup pass; w3lib/url-normalize
  * semantics: case-fold scheme+host, strip fragments and tracking params,
  * collapse trailing slashes).
  *
  * The synthetic corpus carries no URLs, so each op first PLANTS a
  * deterministic doc_id-derived raw URL (the qt22/qm1 discipline: the
  * construction is replayed verbatim by the DuckDB oracle, so the hash gate
  * covers the real operator logic downstream of it). The planted population
  * is adversarial on purpose: a head-heavy host distribution (every third
  * page lands on one of 8 mega-hosts), a spam TLD, mixed-case schemes and
  * hosts, utm_ and ref tracking params interleaved with a REAL param that
  * must survive, fragments, and trailing slashes.
  */
object UrlCuration {

  /** Deterministic planted raw URL per doc (see class doc). Path identity is
    * `doc_id % 300` and the host derives from THAT, so distinct docs collide
    * on the canonical URL at every corpus size; noise (case, params,
    * fragment, trailing slash) keys on doc_id so colliding docs disagree on
    * the raw form — exactly what canonicalization has to undo.
    */
  private[ops] def withRawUrl(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    val pid = id % 300
    val hostId = when(pid % 3 === 0, pid % 8).otherwise(pid % 128)
    val host = concat(lit("d"), hostId.cast("string"),
      when(hostId % 7 === 0, lit(".spam.example")).otherwise(lit(".example.com")))
    val scheme = when(id % 2 === 0, lit("HTTPS")).otherwise(lit("https"))
    val noisyHost = when(id % 3 === 0, GraftFunctions.upper(host)).otherwise(host)
    val path = concat(lit("/p/"), pid.cast("string"),
      when(id % 7 === 0, lit("/")).otherwise(lit("")))
    val params = concat_ws("&",
      when(id % 2 === 0, lit("utm_source=feed")),
      when(id % 3 === 1, lit("ref=rss")),
      when(id % 11 === 0, lit("v=2")))
    val query = when(params =!= "", concat(lit("?"), params)).otherwise(lit(""))
    val frag = when(id % 5 === 0, lit("#sec1")).otherwise(lit(""))
    d.withColumn("raw_url",
      concat(scheme, lit("://"), noisyHost, path, query, frag))
  }

  /** URL canonicalization as pure string surgery over the raw URL (never a
    * recomputation from ids): strip fragment, case-fold scheme+host, drop
    * utm_* / ref tracking params while KEEPING real ones, repair the query
    * separator, collapse the trailing slash. Every regex stays in the
    * Java ∩ RE2 subset (no lookaround) so the oracle replays each step.
    */
  private[graft] def canonicalize(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val schemeHost = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val cased = concat(GraftFunctions.lower(schemeHost),
      noFrag.substr(length(schemeHost) + 1, lit(1 << 20)))
    val noTrack = regexp_replace(cased, "[?&](utm_[a-z_]+|ref)=[^&#]*", "")
    // separator repair: the FIRST '&' preceding any '?' becomes '?' (the
    // tracker strip above can consume the original '?'). [^?&]* — not
    // [^?]* — so multiple surviving params keep their '&'s and the repair
    // is idempotent (greedy [^?]* would convert the LAST pre-? ampersand)
    val fixedSep = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val noEmptyQ = regexp_replace(fixedSep, "\\?$", "")
    // /+ not /: a crawl URL can end in '//' (or '//?q') and one-slash
    // stripping would need two canonicalization passes to stabilize
    val slashBeforeQ = regexp_replace(noEmptyQ, "/+(\\?)", "$1")
    regexp_replace(slashBeforeQ, "/+$", "")
  }

  /** qu1: per-domain quota + blocklist — the C4-style host-level gate. Each
    * doc gets its host's population size, its within-host rank by content
    * length (longest first, doc_id tiebreak), and a keep decision: in the
    * host's top-`cap` AND not on the spam blocklist.
    *
    * Scale shape: the per-host top-k runs as the q19 bounded `top_k_rank`
    * aggregate — a fixed k-entry heap per host with map-side partials —
    * NEVER a row_number window: a mega-host with 10^8 pages is exactly the
    * partition that would serialize a window sort, while the heap aggregate
    * combines before the shuffle. Ranks re-attach through a join whose
    * build side is at most |hosts|·cap rows (host-count-sized, not
    * corpus-sized; AQE size-gates it, never hinted).
    */
  def domainCap(spark: SparkSession, dir: String, cap: Int = 8): DataFrame = {
    val u = withRawUrl(Tables.docs(spark, dir))
      .withColumn("domain",
        regexp_extract(GraftFunctions.lower(col("raw_url")), "://([^/?#]*)", 1))
      .select(col("doc_id"), col("n_chars"), col("domain"))
    val topk = u.groupBy(col("domain"))
      .agg(
        count(lit(1)).as("domain_docs"),
        graft.functions.GraftFunctions
          .topKRank(col("n_chars").cast("double"), col("doc_id"), cap).as("topk"))
    val ranks = topk
      .select(col("domain"), col("domain_docs"),
        posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("domain"), col("domain_docs"),
        col("e.payload").as("doc_id"), (col("pos") + 1).cast("int").as("domain_rank"))
    u.join(ranks.select(col("doc_id"), col("domain_rank")), Seq("doc_id"), "left")
      .join(topk.select(col("domain"), col("domain_docs")), Seq("domain"))
      // rank 0 = outside the quota (never NULL: scalar-only oracle columns)
      .withColumn("domain_rank", coalesce(col("domain_rank"), lit(0)))
      .withColumn("blocked", col("domain").endsWith(".spam.example").cast("int"))
      .select(col("doc_id"), col("domain"), col("domain_docs"),
        col("domain_rank"), col("blocked"),
        (col("domain_rank") > 0 && col("blocked") === 0)
          .cast("int").as("kept"))
  }

  /** qu3: crawl-snapshot dedup — keep the LATEST fetch per canonical URL.
    * Crawls re-fetch pages across snapshots (the input table's `warc_ts`
    * axis): training pipelines keep one row per URL, preferring the newest
    * capture (CCNet/RefinedWeb both collapse snapshots before any text
    * pass). The fetch timestamp is planted deterministically from doc_id
    * (epoch seconds — the same replay discipline as the raw URL itself).
    *
    * Scale shape: keep-latest is a hash AGGREGATION — max over the
    * order-preserving (warc_epoch, doc_id) encoding `epoch<<20 | doc_id`
    * (one BIGINT, so the max plans as a hash aggregate with map-side
    * partials; max(struct(..)) would fall back to SortAggregate — the
    * qd12 keeper-key lesson). A URL re-fetched in 10^4 snapshots combines
    * map-side instead of serializing a window partition. Bound: doc_id <
    * 2^20 per shifted key; epoch < 2^43 s. Keeper id/epoch are decoded
    * back out of the max key arithmetically.
    */
  def snapshotDedup(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit(1704067200L) +
      (col("doc_id") % 97) * 86400L + (col("doc_id") % 13) * 3600L
    val u = withRawUrl(Tables.docs(spark, dir))
      .select(col("doc_id"), col("raw_url"))
      .withColumn("canon_url", canonicalize(col("raw_url")))
      .withColumn("warc_epoch", epoch)
    val key = shiftleft(col("warc_epoch"), 20) + col("doc_id")
    val keepers = u.groupBy(col("canon_url"))
      .agg(max(key).as("kk"))
      .select(col("canon_url"),
        (col("kk") % 1048576L).as("keeper_id"),
        shiftright(col("kk"), 20).as("keeper_epoch"))
    u.join(keepers, Seq("canon_url"))
      .select(col("doc_id"), col("canon_url"), col("warc_epoch"),
        col("keeper_id"), col("keeper_epoch"),
        (col("doc_id") =!= col("keeper_id")).cast("int").as("is_stale"))
  }

  /** qu2: URL canonicalization + exact-URL keep-first dedup — the frontier
    * dedup every crawler runs. Canonicalize the raw URL (string surgery,
    * [[canonicalize]]), then keep the smallest doc_id per canonical URL.
    *
    * Scale shape: keep-first is a hash AGGREGATION on the canonical key
    * (min(doc_id) with map-side partials — the qd1/qd12 discipline) plus a
    * keeper join reusing the same exchange; a URL shared by 10^6 mirror
    * pages combines map-side instead of serializing a window partition.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val u = withRawUrl(Tables.docs(spark, dir))
      .select(col("doc_id"), col("raw_url"))
      .withColumn("canon_url", canonicalize(col("raw_url")))
    val keepers = u.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("keeper_id"))
    u.join(keepers, Seq("canon_url"))
      .select(col("doc_id"), col("raw_url"), col("canon_url"), col("keeper_id"),
        (col("doc_id") =!= col("keeper_id")).cast("int").as("is_dup"))
  }

  /** qu4: URL spam-FEATURE extraction — the per-URL feature vector frontier
    * classifiers gate on (RefinedWeb §3.1 / FineWeb's URL filtering stage
    * score hostnames and paths before fetching a byte): subdomain depth,
    * spam-TLD membership, digit density in the host, path depth, tracking
    * vs total query params, and raw length. Features come from the RAW url
    * (classifiers run pre-canonicalization, on what the frontier sees);
    * every extraction is a Java∩RE2 regex or plain string length math, so
    * the oracle replays each feature bit-for-bit.
    *
    * Scale shape: ONE map-only pass, zero exchanges (the qt1/qt22 family).
    *
    * Output: (doc_id, host, subdomain_depth, is_spam_tld, host_digits,
    * path_depth, n_params, n_tracking_params, url_len).
    */
  def urlFeatures(spark: SparkSession, dir: String): DataFrame = {
    val u = withRawUrl(Tables.docs(spark, dir))
    val host = GraftFunctions.lower(regexp_extract(col("raw_url"), "^[A-Za-z]+://([^/?#]+)", 1))
    val path = regexp_extract(col("raw_url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val query = regexp_extract(col("raw_url"), "\\?([^#]*)", 1)
    u.withColumn("host", host)
      .withColumn("path_s", path)
      .withColumn("query_s", query)
      .select(col("doc_id"), col("host"),
        (length(col("host")) -
          length(regexp_replace(col("host"), "\\.", ""))).as("subdomain_depth"),
        col("host").endsWith(".spam.example").cast("int").as("is_spam_tld"),
        regexp_count(col("host"), lit("[0-9]")).as("host_digits"),
        regexp_count(col("path_s"), lit("/")).as("path_depth"),
        when(col("query_s") === "", 0L)
          .otherwise(regexp_count(col("query_s"), lit("&")) + 1L).as("n_params"),
        regexp_count(col("query_s"), lit("(^|&)(utm_[A-Za-z]+|ref)="))
          .as("n_tracking_params"),
        length(col("raw_url")).cast("long").as("url_len"))
  }

  /** qu5: FRONTIER POLITENESS SCHEDULE — the crawl-planning dashboard a
    * frontier operator reads before launching a fetch wave (the IRLbot /
    * Mercator frontier literature's budget question): with a per-host
    * minimum delay D and S concurrent fetch slots, a host with n unique
    * URLs serializes to n·D ms no matter how many fetchers exist, while
    * the fleet as a whole floors at ceil(total·D / S). Per host this op
    * reports the unique-canonical-URL count (qu2's canonicalization +
    * dedup feed it — the frontier never fetches a raw-URL duplicate), the
    * serial time, the fleet floor, the corpus share, and which constraint
    * BINDS ('politeness' hosts gate the crawl; 'capacity' hosts are free
    * parallelism) — plus the resulting makespan lower bound
    * max(max_h n_h·D, ceil(total·D/S)), the number a crawl scheduler
    * quotes. The planted head-heavy host population (8 mega-hosts) makes
    * the politeness-bound head real at every corpus size.
    *
    * All integer math (ceil division as (a+S-1) DIV S), so the oracle
    * replays every cell. Scale shape: one canonical-URL distinct (the
    * qu2 shuffle), one host-keyed hash aggregate with map-side partials
    * (a 10^8-page mega-host combines before the shuffle), and two 1-row
    * broadcast scalars — never a per-URL window.
    */
  def frontierSchedule(spark: SparkSession, dir: String, delayMs: Long = 1000,
      slots: Long = 64): DataFrame = {
    require(delayMs >= 1 && slots >= 1, s"need delayMs/slots >= 1")
    val canon = withRawUrl(Tables.docs(spark, dir))
      .select(canonicalize(col("raw_url")).as("canon_url")).distinct()
    val hosts = canon
      .select(regexp_extract(col("canon_url"), "^[a-z]+://([^/?#]+)", 1)
        .as("host"))
      .groupBy(col("host")).agg(count(lit(1)).as("n_urls"))
    val tot = hosts.agg(sum(col("n_urls")).as("total_urls"))
    val maxSerial = hosts.agg((max(col("n_urls")) * delayMs).as("max_serial_ms"))
    hosts.crossJoin(broadcast(tot)).crossJoin(broadcast(maxSerial))
      .select(col("host"), col("n_urls"), col("total_urls"),
        (col("n_urls") * delayMs).as("serial_ms"),
        expr(s"(total_urls * $delayMs + ${slots - 1}) DIV $slots")
          .as("fleet_floor_ms"),
        expr("n_urls * 1000 DIV total_urls").as("share_milli"),
        col("max_serial_ms"))
      .withColumn("binding",
        when(col("serial_ms") > col("fleet_floor_ms"), "politeness")
          .otherwise("capacity"))
      .withColumn("makespan_ms",
        greatest(col("max_serial_ms"), col("fleet_floor_ms")))
      .drop("max_serial_ms")
  }
}
