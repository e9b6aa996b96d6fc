package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine.
  *
  * The reference's "streaming" is pipelined concurrency + SSE progress
  * (SURVEY.md section 2.9) — no event-time state. The Spark-native engine
  * still ships real streaming operators for the events feed:
  *  - watermarked tumbling-window aggregation;
  *  - stateful sessionization via flatMapGroupsWithState (event-time timeout);
  *  - streaming extraction: the same pure extraction function applied to a
  *    stream of pages via mapPartitions semantics (stateless, so it runs
  *    unchanged under `readStream` -> foreachBatch MERGE).
  */
object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionOut(user_id: Long, n_events: Long, start_ts: Timestamp,
      end_ts: Timestamp)

  final case class SessionState(n: Long, start: Long, last: Long)

  /** Watermarked tumbling window: 1h windows, 2h late-data bound. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stateful sessionization: 30-minute inactivity gap closes a session.
    * Event-time timeout keyed on the watermark; emits one row per closed
    * session.
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          val gapMs = 30L * 60 * 1000
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, new Timestamp(s.start), new Timestamp(s.last)))
          } else {
            val sorted = rows.toVector.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = Vector.empty[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessionState(s.n + 1, s.start, t))
                case Some(s) =>
                  closed :+= SessionOut(userId, s.n, new Timestamp(s.start), new Timestamp(s.last))
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming exact dedup: the streaming leg of the corpus-dedup story.
    * Keyed on the same normalized-md5 fingerprint as the batch pass
    * (graft.ops.Dedup.fingerprintCol); dropDuplicatesWithinWatermark keeps
    * ONE state entry per unique fingerprint and ages it out past the
    * watermark horizon — the standard bounded-state tradeoff (a duplicate
    * arriving later than the horizon is admitted; the batch pass catches
    * it). Input: a docs stream with (doc_id, ts, text).
    */
  def streamingDedup(docs: DataFrame, horizon: String = "2 hours"): DataFrame =
    docs
      .withColumn("fp", graft.ops.Dedup.fingerprintCol(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming URL-frontier dedup: the crawl-frontier admission every
    * fetcher runs continuously — canonicalize the raw URL (the same string
    * surgery as the batch pass, [[graft.ops.UrlCuration.canonicalize]])
    * and keep the FIRST arrival per canonical URL within the watermark
    * horizon. One state entry per unique canonical URL, aged out past the
    * horizon (a re-fetch later than the horizon is re-admitted — the batch
    * qu2/qu3 passes collapse those). Input: a stream with (url, ts, ...).
    */
  def streamingUrlFrontier(pages: DataFrame, horizon: String = "2 hours"): DataFrame =
    pages
      .withColumn("canon_url",
        graft.ops.UrlCuration.canonicalize(col("url")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("canon_url")

  /** Streaming admission against the PERSISTED dedup index — the streaming
    * face of [[graft.spark.IncrementalDedupJob]]: a docs stream is admitted
    * per micro-batch via foreachBatch, where the full batch API (joins +
    * aggregations against the static index tables) is available without
    * streaming-aggregation output-mode constraints. This is the production
    * continuous-ingest shape: the index tables refresh daily (batch job),
    * the stream admits against the latest snapshot, and the per-batch
    * admission output lands wherever `sink` points it. Complements
    * [[streamingDedup]] (which handles WITHIN-stream repeats with bounded
    * watermark state — run it upstream of this).
    */
  def streamingAdmission(docs: DataFrame, corpusFp: DataFrame,
      corpusSh: DataFrame, corpusBands: DataFrame)(
      sink: (DataFrame, Long) => Unit) =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          sink(graft.spark.IncrementalDedupJob.admitBatch(
            batch.toDF(), corpusFp, corpusSh, corpusBands), id)
        }
      }

  /** Streaming DISTRIBUTION-DRIFT monitor — the continuous face of qt39:
    * each micro-batch's hashed-token histogram JSDs against a STATIC
    * reference histogram (yesterday's persisted 256-row corpus summary,
    * [[graft.ops.TextAnalysis.tokenHistogram]]), so ingest monitoring
    * never re-scans the reference corpus. foreachBatch, like
    * [[streamingAdmission]]: the per-batch drift row (n_batch, n_ref,
    * jsd) lands wherever `sink` points it — alert thresholds are one
    * filter downstream. Input: a docs stream with a `text` column.
    */
  def streamingDrift(docs: DataFrame, refHist: DataFrame,
      buckets: Int = 256)(sink: (DataFrame, Long) => Unit) =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) {
          sink(graft.ops.TextAnalysis.jsdAgainst(
            graft.ops.TextAnalysis.tokenHistogram(batch.toDF(), buckets),
            refHist, buckets), id)
        }
      }

  /** Streaming MINI-BATCH k-means state (Sculley 2010, WWW — "Web-scale
    * k-means clustering"): the model a continuous embedding feed trains —
    * per micro-batch, each vector assigns to its nearest centroid (qc1's
    * map-only E-step: exact int64 fixed-point L2 against the model-sized
    * centroid literals via native dot_i64), the per-cluster batch sums
    * reduce in one hash aggregate (k×dim rows — model-sized, the only
    * thing that ever reaches the driver), and centroids move by the
    * paper's per-center count-based learning rate eta_c = 1/n_c, kept in
    * EXACT integer arithmetic:
    *
    *   n_c' = n_c + b;  cv_i' = cv_i + floor((S_i - cv_i * b) / n_c')
    *
    * (S_i the batch sum, b the batch count) — which is the running-mean
    * update when the rate is 1/n_c', so the state is deterministic and
    * single-threaded-replayable regardless of executor count or batch
    * partitioning. State lives on the driver at k×dim longs — the same
    * bounded-model discipline as qc1's M-step collect.
    */
  final class MiniBatchKmeans(init: Array[Array[Long]]) extends Serializable {
    require(init.nonEmpty && init.forall(_.length == init.head.length),
      "need >= 1 centroid, all the same dimension")
    private val cents = init.map(_.clone)
    private val counts = Array.fill(init.length)(0L)
    def centroids: Array[Array[Long]] = cents.map(_.clone)
    def centerCounts: Array[Long] = counts.clone

    /** One mini-batch step over rows with an ARRAY<LONG> `qv` column;
      * returns the PRE-update per-cluster batch summary
      * (cid, batch_n, inertia).
      */
    def update(batch: DataFrame): DataFrame = {
      import graft.functions.GraftFunctions
      val n2 = GraftFunctions.dotI64(col("qv"), col("qv"))
      val candidates = GraftFunctions.centroidDists(col("qv"), col("n2"),
        cents.indices.map(cid => cid -> cents(cid)))
      val assigned = batch
        .withColumn("n2", n2)
        .withColumn("best", array_min(candidates))
        .select(col("best.cid").as("cid"), col("best.dist").as("dist_sq"),
          col("qv"))
      val dim = cents.head.length
      // model-sized reduce: k rows of (count, inertia, dim sums)
      val sums = assigned.groupBy(col("cid")).agg(
        count(lit(1)).as("b"),
        (sum(col("dist_sq")).as("inertia") +:
          (0 until dim).map(i =>
            sum(element_at(col("qv"), i + 1)).as(s"s$i"))): _*)
      val rows = sums.collect()
      rows.foreach { r =>
        val cid = r.getInt(0)
        val b = r.getLong(1)
        val nNew = counts(cid) + b
        var i = 0
        while (i < dim) {
          val s = r.getLong(3 + i)
          cents(cid)(i) += Math.floorDiv(s - cents(cid)(i) * b, nNew)
          i += 1
        }
        counts(cid) = nNew
      }
      val spark = batch.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r =>
          org.apache.spark.sql.Row(r.getInt(0), r.getLong(1), r.getLong(2))).toSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cid",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("batch_n",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("inertia",
            org.apache.spark.sql.types.LongType, nullable = false))))
    }
  }

  object MiniBatchKmeans {
    /** Rebuild a model from persisted state after a query restart. The
      * model is DRIVER state, not checkpoint state: a restarted query
      * resumes its source offsets but NOT this object, so exactly-once
      * across restarts requires the sink to persist (centroids, counts)
      * transactionally with each batch's output and the caller to
      * `resume` from the last committed pair — the same
      * idempotent-landing discipline as [[StreamOps.streamingExtract]].
      */
    def resume(cents: Array[Array[Long]],
        counts: Array[Long]): MiniBatchKmeans = {
      require(counts.length == cents.length,
        s"state mismatch: ${cents.length} centroids, ${counts.length} counts")
      val m = new MiniBatchKmeans(cents)
      Array.copy(counts, 0, m.counts, 0, counts.length)
      m
    }
  }

  /** The streaming face: each micro-batch takes one mini-batch gradient
    * step on the shared model; the per-batch summary lands in `sink`.
    * foreachBatch like [[streamingAdmission]] — the model is the
    * cross-batch state, updated exactly once per micro-batch WITHIN a
    * run. Across restarts, persist and [[MiniBatchKmeans.resume]] the
    * state (see its scaladoc) — the offsets checkpoint alone does not
    * carry the model.
    */
  def streamingKmeans(vecs: DataFrame, model: MiniBatchKmeans)(
      sink: (DataFrame, Long) => Unit) =
    vecs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) sink(model.update(batch.toDF()), id)
      }

  /** Streaming extraction: pages stream -> the same pure per-document
    * extraction -> foreachBatch MERGE into the snapshot store. Stateless, so
    * exactly-once lands on the store's idempotent merge.
    */
  def streamingExtract(pages: DataFrame, store: graft.spark.SnapshotStore) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val extracted = graft.spark.ExtractJob.extract(
      pages.as[graft.spark.PagesTable.PageRow])
    extracted.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[graft.spark.ExtractJob.ExtractedRow], _: Long) =>
        store.merge(batch.toDF(), "url"): Unit
      }
  }
}
