package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model.Envelope
import graft.sinks.Sink

/** Structured-Streaming face of the engine (SURVEY §2.6, §3.3).
  *
  * The same `Processor` pipeline runs on `readStream` DataFrames — batch/
  * stream duality is native. The reference's delivery machinery (acks,
  * checkpoint tracker `internal/checkpoint/type.go:13-31`) maps to Spark's
  * offset/commit logs: exactly-once to idempotent sinks, strictly stronger
  * than the reference's at-least-once.
  *
  * v3 has NO event-time windowing (batch `period` is its only windowing —
  * `lib/message/batch/policy.go:53-59`); we expose real event-time
  * tumbling/sliding/session windows + watermarks as a documented superset.
  */
object Streaming {

  /** Streaming file source → envelope (needs explicit schema, as all
    * streaming file sources do). */
  def fileStream(spark: SparkSession, path: String, format: String,
      schema: StructType): DataFrame = {
    val df = format match {
      case "parquet" => spark.readStream.schema(schema).parquet(path)
      case "json" => spark.readStream.schema(schema).json(path)
      case "csv" => spark.readStream.schema(schema).option("header", true).csv(path)
      case o => throw new IllegalArgumentException(s"unknown stream format $o")
    }
    Envelope.wrapUnordered(df)
  }

  /** `generate` input, streaming flavor: rate source + Bloblang mapping
    * (`this` = {i: Long}). */
  def rateGenerate(spark: SparkSession, mapping: String, rowsPerSecond: Int): DataFrame = {
    val base = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).load()
      .select(col("value").as("i"))
    graft.blobl.Mapping.compile(mapping).applyEnvelope(Envelope.wrapUnordered(base))
  }

  /** `dedupe` with TTL (cache-backend TTL parity): drop duplicate keys
    * within the watermark window. `tsField` is an event-time field inside
    * doc. */
  def dedupeWithinWatermark(df: DataFrame, keyExpr: String, tsField: String,
      delay: String): DataFrame = {
    val keyed = df
      .withColumn("_ts", col(s"${Envelope.Doc}.$tsField"))
      .withColumn("_key", graft.blobl.Mapping.envelopeExpr(df, keyExpr))
      .withWatermark("_ts", delay)
    keyed.dropDuplicatesWithinWatermark("_key").drop("_key", "_ts")
  }

  /** Event-time windowed aggregation over doc fields (tumbling when
    * slide == window). Returns (window_start, window_end, key?, aggs). */
  def windowedAgg(df: DataFrame, tsField: String, windowDur: String,
      slide: Option[String], delay: String,
      keyFields: scala.Seq[String], aggs: scala.Seq[Column]): DataFrame = {
    val ts = col(s"${Envelope.Doc}.$tsField")
    val withTs = df.withColumn("_ts", ts).withWatermark("_ts", delay)
    val win = slide.map(s => window(col("_ts"), windowDur, s))
      .getOrElse(window(col("_ts"), windowDur))
    val keys = win +: keyFields.map(f => col(s"${Envelope.Doc}.$f").as(f))
    withTs.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Batch policy → processing-time micro-batching: the reference's
    * count/period flush (`lib/message/batch/policy.go`) becomes trigger
    * interval + per-micro-batch batch_id (foreachBatch assigns it). */
  def run(df: DataFrame, sink: Sink, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      onBatch: Option[DataFrame => Unit] = None): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // the sink write and a post-delivery hook are two actions over the
        // batch: persist it so the stateful plan (and its state-store
        // commit) runs once, not once per action
        onBatch.foreach(_ => batch.persist())
        try {
          sink.write(batch.withColumn(Envelope.BatchId, lit(id)))
          // post-delivery hooks (e.g. cache-backed dedupe key write-back):
          // run AFTER the sink so a write-back never records keys for rows
          // the sink failed to deliver (same at-least-once posture as the
          // reference's ack-then-cache-set ordering)
          onBatch.foreach(_(batch))
        } finally onBatch.foreach(_ => batch.unpersist())
      }
      .start()

  /** Streaming NEAR-duplicate dedupe — the streaming face of the
    * incremental batch-vs-corpus MinHash dedupe (q66): every micro-batch
    * (1) drops in-batch near-dup pairs (keep-min), (2) LSH-checks the
    * rest against the ACCUMULATED corpus index (a parquet directory
    * holding id/text/signature — the corpus lives in storage, not in
    * bounded streaming state, which is what survives an unbounded
    * stream), (3) delivers the survivors and appends their rows to the
    * index. Candidate generation is banded bucket equi-joins throughout;
    * the corpus text is only touched by the exact-verify join on
    * surviving candidates — the same 100 TB shape as the batch path.
    * `idField`/`textField` are doc fields of the envelope stream. */
  def runNearDupDedupe(df: DataFrame, idField: String, textField: String,
      indexDir: String, sink: Sink, checkpoint: String,
      threshold: Double = 0.9, numHashes: Int = 24,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    import graft.llmops.Dedup
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val spark = batch.sparkSession
        val idC = col(s"${Envelope.Doc}.$idField")
        val textC = col(s"${Envelope.Doc}.$textField")
        val plain = batch.select(idC.as("id"), textC.as("text"))
          .localCheckpoint() // one materialization; reused by 3 plans below
        // (1) in-batch near-dups: keep the smaller id of each pair
        val inBatchDrop = Dedup.minhashPairs(plain, "id", "text",
            numHashes = numHashes, threshold = threshold)
          .select(greatest(col("id_a"), col("id_b")).as("id")).distinct()
        val fresh = plain.join(inBatchDrop, scala.Seq("id"), "left_anti")
        // (2) vs the accumulated corpus index
        val dir = new java.io.File(indexDir)
        val survivors =
          if (dir.exists() && dir.listFiles() != null && dir.listFiles().nonEmpty) {
            val corpus = spark.read.parquet(indexDir)
            val dups = Dedup.incrementalNearDupWithIndex(
              fresh, corpus.select(col("id"), col("text")),
              corpus.drop("text"), "id", "text",
              numHashes = numHashes, threshold = threshold)
              .select(col("new_id").as("id")).distinct()
            fresh.join(dups, scala.Seq("id"), "left_anti").localCheckpoint()
          } else fresh
        // (3) deliver + append to the corpus index (id, text, signature)
        sink.write(batch
          .join(survivors.select(col("id").as("_sid")),
            idC === col("_sid"), "left_semi")
          .withColumn(Envelope.BatchId, lit(id)))
        Dedup.minhashIndex(survivors, "id", "text", numHashes = numHashes)
          .join(survivors, scala.Seq("id"))
          .write.mode("append").parquet(indexDir)
      }
      .start()
  }

  /** Watermarked stream-stream interval join — the streaming enrichment
    * the reference approximates with sharded_join + cache lookups
    * (`lib/input/sequence.go` sharded path): right-side rows within
    * `within` of the left row's event time, equi-keyed. Both sides carry
    * watermarks so Spark bounds the join state and evicts expired rows —
    * state never grows with the stream, the property that makes this run
    * forever at 100 TB/day.
    *
    * Output carries both sides' columns; disambiguate via the `l`/`r`
    * aliases (`col("l.key")`). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, leftDelay: String,
      rightDelay: String, within: String): DataFrame = {
    val l = left.withWatermark(leftTs, leftDelay).alias("l")
    val r = right.withWatermark(rightTs, rightDelay).alias("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs - INTERVAL $within" +
        s" AND r.$rightTs <= l.$leftTs + INTERVAL $within"))
  }

  /** Per-key quota across the stream's lifetime (the reference's
    * rate_limit resource keyed by message content — `lib/ratelimit/`):
    * the first `limit` rows of each key pass, everything after drops.
    * flatMapGroupsWithState keeps one counter per key; rows ride through
    * as JSON payloads so any envelope shape survives the typed hop.
    * Output: (key, payload) — `from_json` restores the row downstream. */
  def throttleByKey(df: DataFrame, keyExpr: String, limit: Int): DataFrame = {
    require(limit > 0, s"limit must be positive, got $limit")
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(
      graft.blobl.Mapping.envelopeExpr(df, keyExpr)
        .cast(StringType).as("key"),
      to_json(struct(col("*"))).as("payload")).as[(String, String)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)],
            state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ListBuffer[(String, String)]()
          rows.foreach { r =>
            if (n < limit) out += ((key, r._2))
            n += 1
          }
          state.update(n)
          out.iterator
      }.toDF("key", "payload")
  }

  /** Streaming dedupe backed by a TTL'd key cache — the reference's
    * `dedupe` processor over a `memory` cache resource with `ttl`
    * (`lib/processor/dedupe.go` + `lib/cache/memory.go:48,92`): the
    * first row per key passes, repeats drop while the key is cached,
    * and the key RE-ADMITS once its TTL lapses. That is
    * PROCESSING-time expiry — the reference compacts on wall-clock age
    * — which `dropDuplicatesWithinWatermark` (event-time) cannot
    * express; this rides Spark 4's `transformWithState` with a
    * per-key last-seen timestamp checked against the batch's
    * processing time — LAZY expiry, which is precisely the reference's
    * contract ("after this period an item will be eligible for removal
    * during the next compaction", memory.go:48 — reads honor the TTL
    * immediately, physical removal is deferred). TimeMode.None is
    * deliberate: under TimeMode.ProcessingTime the operator schedules
    * continuous TTL-sweep micro-batches and Trigger.AvailableNow never
    * terminates (measured: 1,000+ empty batches). The trade: expired
    * keys occupy state until overwritten, like the reference's cache
    * between compactions — one row per distinct key, not per stream
    * row. Requires the RocksDB state-store provider (the TWS operator
    * rejects the HDFS-backed one); callers set
    * `spark.sql.streaming.stateStore.providerClass`. Rows ride as JSON
    * payloads like [[throttleByKey]]; output (key, payload). */
  def dedupeByKeyTtl(df: DataFrame, keyExpr: String,
      ttl: java.time.Duration): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(
      graft.blobl.Mapping.envelopeExpr(df, keyExpr)
        .cast(StringType).as("key"),
      to_json(struct(col("*"))).as("payload")).as[(String, String)]
    keyed.groupByKey(_._1)
      .transformWithState(
        new TtlDedupeProcessor(ttl.toMillis),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
      .toDF("key", "payload")
  }

  /** Stateful named counters (the `cache` incrby / `count()` function
    * semantics) via mapGroupsWithState: running count per key across
    * micro-batches. */
  def statefulCounter(df: DataFrame, keyExpr: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val keyed = df.select(graft.blobl.Mapping.envelopeExpr(df, keyExpr)
      .cast(StringType).as("key")).as[String]
    keyed.groupByKey(identity)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }.toDF("key", "count")
  }
}

/** The TTL'd seen-key state behind [[Streaming.dedupeByKeyTtl]]: one
  * last-seen-at timestamp `ValueState` per key, checked lazily against
  * the batch's processing time (the reference's eligible-at-compaction
  * contract; see the TimeMode.None rationale on dedupeByKeyTtl). */
final class TtlDedupeProcessor(ttlMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, String), (String, String)] {
  @transient private var seenAt:
    org.apache.spark.sql.streaming.ValueState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    seenAt = getHandle.getValueState[Long]("seenAt",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, String)],
      timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[(String, String)] = {
    val now = timerValues.getCurrentProcessingTimeInMs()
    if (seenAt.exists() && now - seenAt.get() < ttlMs) {
      rows.foreach(_ => ()) // drain: repeats drop while the key is live
      Iterator.empty
    } else {
      seenAt.update(now)
      // within one batch the remaining duplicates drop too (the
      // reference caches the key before the next part is checked)
      rows.take(1)
    }
  }
}

/** Streams mode (`lib/stream/manager/api.go:34-58`): a registry of named
  * running queries with lifecycle + stats — the REST layer of the
  * reference maps to these calls 1:1 (GET /streams → list, POST → start,
  * DELETE → stop, /streams/{id}/stats → stats). */
final class StreamRegistry {
  private val queries = scala.collection.concurrent.TrieMap[String, StreamingQuery]()

  def start(name: String, q: StreamingQuery): Unit = queries.put(name, q)
  def list: scala.Seq[String] = queries.keys.toSeq.sorted
  def stop(name: String): Boolean =
    queries.remove(name).map { q => q.stop(); true }.getOrElse(false)
  def stats(name: String): Option[String] =
    queries.get(name).flatMap(q => Option(q.lastProgress).map(_.json))
  def stopAll(): Unit = { queries.keys.toSeq.foreach(stop); () }
}
