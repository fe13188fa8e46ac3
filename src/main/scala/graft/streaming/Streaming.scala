package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators for continuous pipelines.
  *
  * The reference has no streaming surface (SURVEY §2.7) — its callback
  * system (db.rs:789-830) is the closest analogue. On Spark the same
  * capabilities are first-class: `readStream` → transforms →
  * `writeStream`, watermarked windowed aggregation, streaming dedup,
  * and `mapGroupsWithState` for custom per-key state — so a training
  * pipeline's ingest (dedup + quality gates + rolling stats) runs
  * identically over batch parquet and a live stream.
  */
object Streaming {

  /** Watermarked sliding-window counts/sums per key — the standard
    * stream aggregation; late events beyond `watermark` are dropped so
    * state is bounded. */
  def windowedStats(events: DataFrame, tsCol: String, keyCol: String,
                    window: String = "1 hour", slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide), col(keyCol))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup by content key within the watermark horizon —
    * the streaming face of Dedup.exact; state for a key is dropped once
    * the watermark passes it. */
  def streamingDedup(events: DataFrame, tsCol: String, keyCols: Seq[String],
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Bridge a stream into a CozoDb stored relation: every micro-batch
    * is `:put` into `rel` through the SAME mutation path scripts use, so
    * `::set_triggers` queries and registered callbacks fire with the
    * batch as `_new` — the live analogue of the reference's
    * callback-on-mutation system (db.rs:789-830), with watermarking and
    * exactly-once batch semantics from Structured Streaming. The caller
    * starts/stops the returned query. */
  def intoRelation(db: graft.lang.CozoDb, rel: String, stream: DataFrame,
                   checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) db.put(rel, batch)
      }
      .start()

  /** Streaming decontamination: flag streamed documents sharing word
    * n-grams with a STATIC eval/benchmark set — the ingest-time face of
    * Decontaminate.ngramOverlap. Exact, stateless, and map-side, which
    * is what keeps it correct on an infinite stream: the per-row
    * overlap is a higher-order `filter` over the doc's shingle array
    * probing a broadcast SORTED ARRAY of the eval shingle hashes
    * (binary search; exact membership, no Bloom fpp tail), so there is
    * no per-doc streaming aggregation and therefore no unbounded state
    * and no watermark requirement. The eval side builds once at plan
    * time (benchmark-sized: 10M shingles ≈ 80 MB broadcast). The same
    * plan runs identically over batch input — parity-tested.
    * Appends (overlap_ngrams, contaminated) to every row.
    */
  def decontaminateStream(stream: DataFrame, textCol: String,
                          eval: DataFrame, evalText: String,
                          n: Int = 13, minOverlap: Int = 1): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val spark = stream.sparkSession
    val hashes: Array[Long] = eval
      .select(explode(TF.windowHashes(TF.tokens(col(evalText)), n)).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted
    val bc = spark.sparkContext.broadcast(hashes)
    val hit = udf((h: Long) => java.util.Arrays.binarySearch(bc.value, h) >= 0)
    val shingles = array_distinct(TF.windowHashes(TF.tokens(col(textCol)), n))
    stream
      .withColumn("overlap_ngrams",
        size(filter(shingles, h => hit(h))).cast("long"))
      .withColumn("contaminated", col("overlap_ngrams") >= minOverlap)
  }

  /** Streaming NEAR-duplicate suppression — the ingest-time face of
    * MinHash-LSH dedup. Runs in `foreachBatch` (exact batch semantics)
    * against an ACCUMULATED band table of accepted documents — the
    * same delta-maintained artifact the `::lsh` incremental index
    * keeps: per micro-batch, one signature pass over the batch, one
    * equi-join against the accepted bands, and an O(|batch bands|)
    * append; the table is lineage-truncated every batch so state cost
    * is the parquet-sized band relation, never the corpus.
    *
    * Contract: a document is SUPPRESSED iff one of its LSH bands
    * collides with a previously accepted document's band, or with a
    * smaller-id document of the same batch. Versus the batch
    * `resolveClusters` semantics this is the greedy arrival-order
    * rule: identical on transitive chains through ascending ids
    * (cluster keeps its minimum), slightly more permissive when a
    * chain's middle element carries the largest id — the price of
    * never revisiting accepted documents, which is what makes it a
    * one-pass streaming operator. Tune bands/rowsPerBand on the usual
    * LSH threshold curve. Accepted rows (original columns) flow to
    * `sink` per batch; the caller starts/stops the returned query.
    *
    * Durability: the accepted-band table is persisted as parquet under
    * `checkpointDir/graft_accepted_bands/batch=<id>` — one
    * idempotently-overwritten delta per micro-batch — and each batch
    * rebuilds its history view from the deltas of STRICTLY EARLIER
    * batch ids. Restart therefore resumes with full history, and a
    * foreachBatch RETRY of batch N sees exactly the pre-N state (its
    * own failed attempt's delta is excluded and then overwritten), so
    * suppression decisions are deterministic under replay. The `sink`
    * call itself keeps foreachBatch's at-least-once contract — a crash
    * between sink success and the band write re-emits that one batch's
    * accepted rows on retry (with identical content); make the sink
    * idempotent on `idCol` for end-to-end exactly-once. Per-batch state
    * I/O is O(|occupied band keys|) parquet read — the same artifact
    * size the `::lsh` incremental index maintains.
    */
  def nearDedupStream(stream: DataFrame, idCol: String, textCol: String,
                      checkpointDir: String, sink: DataFrame => Unit,
                      shingleN: Int = 3, bands: Int = 16,
                      rowsPerBand: Int = 4): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.{TextFunctions => TF}
    val spark = stream.sparkSession
    import spark.implicits._
    val bandsRoot = s"${checkpointDir.stripSuffix("/")}/graft_accepted_bands"
    def acceptedBefore(batchId: Long): DataFrame =
      try spark.read.option("basePath", bandsRoot).parquet(bandsRoot)
        .filter(col("batch") < batchId).select("band")
      catch { // first batch ever: no state dir yet
        case _: org.apache.spark.sql.AnalysisException => Seq.empty[Long].toDF("band")
      }
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val k = bands * rowsPerBand
          // checkpointed signatures: the three band consumers below
          // re-derive the cheap band keys instead of the signatures
          val sigs = TF.minhashSignatures(batch, idCol,
            TF.windowHashes(TF.tokens(col(textCol)), shingleN), k)
          val banded = sigs
            .withColumn("band", explode(TF.lshBandKeys(col("sig"), bands, rowsPerBand)))
            .select(col("id"), col("band"))
          // collides with durable history, or with a smaller id in this batch
          val historyHit = banded.join(acceptedBefore(batchId), Seq("band"))
            .select("id").distinct()
          val batchHit = banded.select(col("id"), col("band"))
            .join(banded.select(col("id").as("__oid"), col("band")), Seq("band"))
            .filter(col("__oid") < col("id"))
            .select("id").distinct()
          val suppressed = historyHit.unionByName(batchHit).distinct()
          // documents with no shingles at all have nothing to collide
          // on — they pass through (anti-join keeps them)
          sink(batch.join(suppressed.withColumnRenamed("id", idCol),
            Seq(idCol), "left_anti"))
          banded.join(suppressed, Seq("id"), "left_anti")
            .select("band").distinct()
            .write.mode("overwrite").parquet(s"$bandsRoot/batch=$batchId")
        }
      }
      .start()
  }

  /** Streaming quality gate: stateless per-row quality score + keep
    * flag (TextAnalysis.qualityScore is pure column arithmetic, so the
    * same expression serves stream and batch). */
  def qualityGate(stream: DataFrame, idCol: String, textCol: String,
                  minQuality: Double): DataFrame =
    graft.text.TextAnalysis.qualityScore(stream, idCol, textCol)
      .withColumn("keep", col("quality") >= minQuality)

  final case class SessionState(count: Long, firstTs: Long, lastTs: Long)
  final case class SessionUpdate(key: Long, count: Long, durationSecs: Long, closed: Boolean)

  /** Custom per-key session tracking via mapGroupsWithState
    * (KeyValueGroupedDataset) — event-time sessions close when an
    * incoming event is more than `gapSecs` past the session's last
    * event. Demonstrates the arbitrary-stateful shape the reference's
    * triggers/callbacks approximate. Input: (key, epochSecs). */
  def sessionize(events: Dataset[(Long, Long)], gapSecs: Long = 1800): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[SessionState]) =>
          val ts = rows.map(_._2).toSeq.sorted
          val prev = state.getOption.getOrElse(SessionState(0L, ts.min, ts.min))
          if (prev.count > 0 && ts.min - prev.lastTs > gapSecs) {
            // gap exceeded: the old session closes, a new one starts
            state.update(SessionState(ts.length, ts.min, ts.max))
            SessionUpdate(key, prev.count, prev.lastTs - prev.firstTs, closed = true)
          } else {
            val next = SessionState(prev.count + ts.length,
              math.min(prev.firstTs, ts.min), math.max(prev.lastTs, ts.max))
            state.update(next)
            SessionUpdate(key, next.count, next.lastTs - next.firstTs, closed = false)
          }
      }
  }
}
