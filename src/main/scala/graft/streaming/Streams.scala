package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Pipeline}
import graft.sources.{Jdbc, Sinks}

/** Structured Streaming renditions of the reference's incremental
  * semantics (SURVEY.md §2.8): the daily batch + 15-day lookback +
  * ON CONFLICT dedupe becomes a file-source stream with watermarked
  * deduplication; the sensor DAGs (S6/S7 polling) become file-source
  * discovery with `Trigger.AvailableNow`.
  */
object Streams {

  /** Schema of the first file matching `glob` under `dir`, via a
    * SINGLE-FILE batch read. Passing the directory + glob instead makes
    * parquet schema inference go through the distributed footer-merge
    * path — a ~0.5 s Spark job per stream build that reads exactly one
    * footer (measured r15); resolving the file driver-side keeps the
    * whole probe a bounded metadata operation, as the scaladocs below
    * always claimed. Files under one logical table share a schema by
    * fixture contract (the batch readers assume the same).
    */
  private def firstFileSchema(spark: SparkSession, dir: String,
                              glob: String): StructType = {
    val pat = new org.apache.hadoop.fs.Path(dir, glob)
    val fs = pat.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hits = fs.globStatus(pat)
    require(hits != null && hits.nonEmpty, s"no files match $pat")
    spark.read.parquet(hits.head.getPath.toString).schema
  }

  /** File-source stream over an events directory; discovery replaces the
    * reference's blob sensors. `maxFilesPerTrigger` bounds per-batch work.
    *
    * The source schema is taken from a one-off batch footer read of the
    * same glob (file-source streams require an explicit schema; deriving
    * it keeps the stream agnostic to the fixture's two historical `ts`
    * encodings — nanosecond int64 vs TIMESTAMP(MICROS) — exactly like
    * the batch path, see graft.Tables.withEventTime). The footer read is
    * a bounded driver-side metadata operation, not a data scan.
    */
  def eventsStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame = {
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = firstFileSchema(spark, dir, "events*.parquet")
    graft.Tables.withEventTime(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .option("pathGlobFilter", "events*.parquet")
        .parquet(dir))
  }

  /** File-source stream over the documents fixture — the corpus-ingest
    * face of [[eventsStream]] (no event-time normalization; documents are
    * not timestamped). Schema comes from a bounded batch footer read.
    */
  def documentsStream(spark: SparkSession, dir: String,
                      maxFilesPerTrigger: Int = 10): DataFrame = {
    val schema = firstFileSchema(spark, dir, "documents*.parquet")
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", "documents*.parquet")
      .parquet(dir)
  }

  /** Deterministic per-(name, source-dir) scratch root for declared
    * streaming queries that need a disk sink + checkpoint: wiped ON ENTRY
    * so repeated invocations (bench reps, verify re-runs, a warmup at a
    * different sf) always replay from a clean slate instead of appending
    * to a stale sink or resuming a consumed checkpoint.
    */
  def freshScratch(name: String, sfDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val root = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_${name}_$digest")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val fs = f.listFiles(); if (fs != null) fs.foreach(rm) }
      f.delete(); ()
    }
    if (root.exists()) rm(root)
    root.mkdirs()
    root.getAbsolutePath
  }

  /** Run `body` (build + start + drain a STATEFUL streaming query) with
    * the session's shuffle partitions — and therefore the query's
    * state-store instance count — sized for state volume rather than
    * batch core count, restoring the previous setting afterwards. Every
    * state partition pays per-micro-batch delta+commit file IO in the
    * checkpoint (a stream-stream join keeps FOUR stores per partition),
    * so a core-count-sized setting multiplies small-file churn for a
    * few thousand keys of state; deployments size this knob to
    * keys×bytes, not cores. SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS
    * overrides (production sizing); the local default is
    * min(8, session setting). Results are partitioning-independent —
    * the same keyed state, grouped differently.
    */
  def withStateSizedShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val n = sys.env.get("SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS")
      .map { v =>
        require(v.matches("[0-9]{1,9}") && v.toInt > 0,
          s"SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS must be a positive int: '$v'")
        v.toInt
      }
      .getOrElse(math.min(8, prev.toInt))
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Sink-existence probe through the PATH's Hadoop filesystem — the
    * door batch bodies ask "has this sink ever been written?" before the
    * first anti-join, and that question must be answered by whatever
    * store the sink actually lives on (s3a://, abfs://, hdfs://), not by
    * the driver's local disk. `java.io.File` here was the one local-FS
    * assumption left in an engine otherwise written for object stores.
    */
  private def sinkExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Watermarked tumbling-window aggregation per event type. */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("bucket_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming rendition of W1's at-most-once-per-key semantics: keyed
    * dedupe under a watermark (the reference re-scans 15 days and relies on
    * ON CONFLICT DO NOTHING; here late duplicates inside the watermark are
    * dropped in-flight with bounded state). Per-KEY dedupe: a re-delivered
    * event with the same business key but a fresh timestamp is still a
    * duplicate — `dropDuplicatesWithinWatermark` keeps state per key and
    * expires it at the watermark.
    */
  def dedupeWithWatermark(events: DataFrame, keys: Seq[String],
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Event-time session windows (30-min gap) per user — the streaming
    * counterpart of the batch gaps-and-islands `q_sessionize`.
    */
  def sessionAggregate(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** A closed activity burst: ≥ `minEvents` events per user with no
    * internal gap exceeding the session gap.
    */
  final case class Burst(user_id: Long, n_events: Long,
                         start_ns: Long, end_ns: Long)

  /** Open-burst state carried across micro-batches (public: the state
    * Encoder's generated code needs accessor visibility). */
  final case class OpenBurst(startNs: Long, lastNs: Long, n: Long)

  /** Custom stateful sessionization via `flatMapGroupsWithState`: per-user
    * state carries the open burst across micro-batches; a burst closes
    * (and is emitted if large enough) when the event-time gap exceeds
    * `gapMinutes`. The one streaming construct the declarative
    * window/session_window API can't express — arbitrary per-key state
    * with custom close conditions (SURVEY.md §2.8 at-most-once state row).
    *
    * Works identically on a batch Dataset (each key's full history arrives
    * as one group, state starts empty) — asserted equal to the
    * gaps-and-islands `q_sessionize` in StreamingSpec.
    */
  def burstDetector(events0: DataFrame, gapMinutes: Int = 30,
                    minEvents: Long = 1,
                    watermark: String = "2 hours"): org.apache.spark.sql.Dataset[Burst] = {
    import events0.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // event-time timeout requires a watermark in streaming; harmless no-op
    // in batch — applied here so the natural eventsStream composition works
    val events = if (events0.isStreaming) events0.withWatermark("ts", watermark)
                 else events0
    val gapNs = gapMinutes.toLong * 60L * 1000000000L
    val isStream = events.isStreaming // don't capture the DataFrame in the closure

    def flush(user: Long, open: Option[OpenBurst]): Iterator[Burst] =
      open.filter(_.n >= minEvents)
        .map(b => Burst(user, b.n, b.startNs, b.lastNs)).iterator

    val fn: (Long, Iterator[(Long, Long, java.sql.Timestamp)], GroupState[OpenBurst]) => Iterator[Burst] =
      (user, rows, state) => {
        if (state.hasTimedOut) {
          val out = flush(user, state.getOption)
          state.remove()
          out
        } else {
          val sorted = rows.toArray.sortBy(_._2)
          var open = state.getOption
          val closed = Iterator.newBuilder[Burst]
          sorted.foreach { case (_, ns, _) =>
            open match {
              case Some(b) if ns - b.lastNs <= gapNs =>
                open = Some(b.copy(lastNs = ns, n = b.n + 1))
              case other =>
                closed ++= flush(user, other)
                open = Some(OpenBurst(ns, ns, 1))
            }
          }
          open match {
            case Some(b) =>
              state.update(b)
              if (isStream)
                state.setTimeoutTimestamp(
                  (b.lastNs + gapNs) / 1000000L) // ms epoch: close on silence
            case None => ()
          }
          // In batch execution there are no further micro-batches: the open
          // burst is final, emit it now.
          if (!isStream) closed ++= flush(user, open)
          closed.result().iterator
        }
      }

    // `ts` must survive the projection: the streaming checker requires the
    // watermarked event-time column to reach the stateful operator
    events.select(col("user_id").cast("long"), col("ts_ns").cast("long"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class TopK(key: String, top_vals: Seq[Long], top_ids: Seq[Long])
  final case class TopKBuf(vals: Seq[Long], ids: Seq[Long], lastNs: Long)

  /** Streaming per-key top-k with state TTL: for every key, maintain the
    * k largest values seen (value desc, id asc tie-break — fully
    * deterministic), re-emitting a key's leaderboard whenever a batch
    * touches it (Update semantics). State per key is EXACTLY k
    * (value, id) pairs — independent of stream length — and a key idle
    * past `ttl` of event time is evicted entirely, so the state store
    * tracks only the working set of active keys. The "trending items per
    * category" primitive: unbounded streams, bounded state.
    *
    * On a batch Dataset the same function computes each key's final
    * top-k in one group pass (state starts empty, no timeouts) — the
    * stream-equals-batch law StreamingSpec asserts.
    *
    * Values are fixed-point longs (`valueExpr` must produce integers;
    * cents via `round(value·100)`) so merge order can never drift a
    * float sum — the leaderboard is a pure order statistic.
    */
  def topKPerKey(events0: DataFrame, k: Int, ttlMinutes: Int = 120,
                 watermark: String = "2 hours"):
      org.apache.spark.sql.Dataset[TopK] = {
    require(k >= 1 && k <= 1024, s"k=$k out of [1, 1024]")
    require(ttlMinutes >= 1, s"ttlMinutes=$ttlMinutes must be >= 1")
    import events0.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = if (events0.isStreaming) events0.withWatermark("ts", watermark)
                 else events0
    val ttlNs = ttlMinutes.toLong * 60L * 1000000000L
    val isStream = events.isStreaming

    val fn: (String, Iterator[(String, Long, Long, Long, java.sql.Timestamp)],
             GroupState[TopKBuf]) => Iterator[TopK] =
      (key, rows, state) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val batch = rows.toArray
          val prev = state.getOption
          val merged = (prev.map(b => b.vals.zip(b.ids)).getOrElse(Seq.empty) ++
              batch.map(r => (r._2, r._3)))
            .sortBy { case (v, id) => (-v, id) }
            .take(k)
          // TTL anchors on the newest EVENT TIME seen for the key, not on
          // leaderboard membership — a key stays alive while traffic flows
          // even if nothing cracks its top-k
          val seenNs = (prev.map(_.lastNs).toSeq ++ batch.map(_._4)).max
          state.update(TopKBuf(merged.map(_._1), merged.map(_._2), seenNs))
          if (isStream)
            // clamp: a timeout at-or-behind the current watermark throws;
            // a key whose TTL already elapsed gets evicted next batch
            state.setTimeoutTimestamp(math.max((seenNs + ttlNs) / 1000000L,
              state.getCurrentWatermarkMs() + 1L))
          Iterator.single(TopK(key, merged.map(_._1), merged.map(_._2)))
        }
      }

    events.select(col("event_type"), expr("CAST(round(value * 100) AS BIGINT)"),
        col("event_id"), col("ts_ns").cast("long"), col("ts"))
      .as[(String, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-stream interval join (the impressions ⋈ conversions class):
    * each left event matches right events with the same keys whose event
    * time falls in [left.ts, left.ts + within]. Both sides are watermarked
    * and the join condition is time-bounded in BOTH directions — that pair
    * is what lets Spark expire buffered join state; an unbounded
    * stream-stream inner join would hold both streams forever. State per
    * key is bounded by (watermark + within) of events, independent of
    * stream length — the 100 TB/day property.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTs: String, rightTs: String, within: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one equi-key")
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    val keyCond = keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _)
    l.join(r, keyCond &&
      col(s"r.$rightTs") >= col(s"l.$leftTs") &&
      col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $within"))
  }

  /** Drain `stream` synchronously under `Trigger.AvailableNow` (process
    * everything currently discoverable, then stop), running `body` on
    * every micro-batch with the source offsets checkpointed at
    * `checkpointDir` — the one scaffold behind every sink-writing stream
    * in this object.
    */
  private def drain(stream: DataFrame, checkpointDir: String)(
      body: DataFrame => Unit): Unit =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) => body(batch.toDF()) }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** End-to-end exactly-once-per-key delivery into a parquet sink: each
    * micro-batch goes through the W1 idempotent append (dedupe + anti-join
    * against sink keys), so replays — whether from checkpoint recovery or
    * source re-delivery — append nothing. Checkpointing makes the source
    * offsets durable; the keyed sink makes the write idempotent; together
    * that is the standard Spark exactly-once recipe.
    */
  def streamIdempotentAppend(
      stream: DataFrame, path: String, keys: Seq[String],
      checkpointDir: String): Unit =
    drain(stream, checkpointDir) { b =>
      Sinks.idempotentAppend(b.sparkSession, b, path, keys)
    }

  /** In-batch half of every door: exact dedupe on the id, then only the
    * canonical representatives of the batch's own near-dup clusters
    * (`selfPairs` maps the deduped batch to its verified pair list).
    */
  private def canonicalBatch(batch: DataFrame, idCol: String,
                             selfPairs: DataFrame => DataFrame): DataFrame = {
    val inBatch = batch.dropDuplicates(idCol)
    Dedup.keepCorpus(inBatch, idCol, selfPairs(inBatch))
  }

  /** The door body without an index, shared by [[dedupIngestBatch]] and
    * [[streamSemanticIngest]]: in-batch canonicalization, id anti-join
    * against the sink (checkpoint-replay safety), then `corpusPairs`
    * (corpus, fresh) probes the standing sink corpus and its `id_new`
    * rows are dropped before the append. Exact replays die at the
    * anti-join, near-dup replays at the probe.
    */
  private def ingestBatch(batch: DataFrame, path: String, idCol: String,
                          selfPairs: DataFrame => DataFrame,
                          corpusPairs: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val canonical = canonicalBatch(batch, idCol, selfPairs)
    val novel =
      if (!sinkExists(spark, path)) canonical
      else {
        val corpus = spark.read.parquet(path)
        // fresh is consumed THREE times (probe signatures, exact-verify
        // base, final anti-join) and Catalyst shares no subtrees across
        // consumers — without the checkpoint each one re-reads the sink
        // and re-runs the in-batch dedup (r15; §5 localCheckpoint as the
        // cheap lineage cut)
        val fresh = Pipeline.idempotentNewRows(
          canonical, corpus.select(col(idCol)), Seq(idCol))
          .localCheckpoint(true)
        val nearDups = corpusPairs(corpus, fresh)
          .select(col("id_new").as(idCol))
          .distinct()
        fresh.join(nearDups, Seq(idCol), "left_anti")
      }
    novel.write.mode(SaveMode.Append).parquet(path)
  }

  /** The door body over a persisted index, shared by
    * [[dedupIngestBatchIndexed]] and [[semanticIngestBatchIndexed]]: same
    * in-batch checks and sink anti-join as [[ingestBatch]], but
    * `indexPairs` probes the persisted bucketed index instead of the sink
    * corpus, and accepted rows go to BOTH the index (`appendToIndex`) and
    * the sink, after which `compactPolicy` may re-file the index.
    *
    * Crash/replay commit protocol (exactly-once without a transaction):
    *
    *  - novelty anchors on SINK ids, and the index appends BEFORE the
    *    sink. Inside the index append the derived table (`_bands` or
    *    `_cells`) lands before `_docs`, so `_docs` is the index's commit
    *    record (`Dedup.appendToIndex` states that append's contract);
    *  - a row present in the index but missing from the sink can then
    *    mean only one thing — a previous attempt accepted it and crashed
    *    before its sink append — so the replay routes such rows STRAIGHT
    *    to the sink. No re-probe: re-probing a row that is already a
    *    corpus member asks a different question than the one the crashed
    *    attempt answered, and because the in-batch and corpus candidate
    *    generators differ (hyperplane LSH vs IVF on the semantic door) a
    *    re-probe could drop from the sink a row that sits in the index;
    *  - rows in neither go through the full probe; rows in both are
    *    consumed replays and die at the sink anti-join.
    *
    * Every window is covered: a crash before the index append replays
    * cleanly from scratch; a crash inside it is repaired by the append's
    * own derived-first commit record; a crash between the index and sink
    * appends is exactly the straight-to-sink case; a crash inside the
    * compaction that follows leaves a complete copy at the staging name,
    * and the next batch's ENTRY heal finishes the swap before the probe
    * reads the index. StreamingSpec drives each window (the
    * straight-to-sink one for both doors), SinksSpec the heal.
    */
  private def ingestBatchIndexed(batch: DataFrame, path: String,
                                 idCol: String, indexTable: String,
                                 selfPairs: DataFrame => DataFrame,
                                 indexPairs: DataFrame => DataFrame,
                                 appendToIndex: DataFrame => Unit,
                                 compactPolicy: () => Unit): Unit = {
    val spark = batch.sparkSession
    // liveness, not content: a crash inside the PREVIOUS batch's
    // auto-compaction (drop→RENAME window) leaves an index name dangling
    // with the complete copy at _cstg; this batch reads the index tables
    // BEFORE its own append/compact self-heal paths would run, so finish
    // any interrupted swap first or spark.table below wedges the door
    Dedup.healIndexTables(spark, indexTable)
    val canonical = canonicalBatch(batch, idCol, selfPairs)
    // fresh fans out into four consumers (already/toProbe split, probe
    // input, final anti-join) — checkpoint once so each does not re-run
    // the in-batch dedup + sink read (r15)
    val fresh =
      (if (!sinkExists(spark, path)) canonical
       else Pipeline.idempotentNewRows(
         canonical, spark.read.parquet(path).select(col(idCol)), Seq(idCol)))
        .localCheckpoint(true)
    // indexed-but-not-sunk = accepted by a crashed attempt (the index
    // append is the acceptance record): finish their sink append verbatim
    val indexedIds = spark.table(s"${indexTable}_docs")
      .select(col("id").as(idCol))
    val already = fresh.join(indexedIds, Seq(idCol), "left_semi")
    val toProbe = fresh.join(indexedIds, Seq(idCol), "left_anti")
    val nearDups = indexPairs(toProbe)
      .select(col("id_new").as(idCol))
      .distinct()
    // pin the accepted set BEFORE the index mutates: the probe plan reads
    // the index tables lazily, and the sink write below must see the
    // pre-append index state
    val novel = toProbe.join(nearDups, Seq(idCol), "left_anti")
      .unionByName(already)
      .localCheckpoint(true)
    appendToIndex(novel)
    novel.write.mode(SaveMode.Append).parquet(path)
    // auto-compaction rides INSIDE the ingest loop, after the batch's
    // commit pair: each delta-append leaves one file generation per
    // touched bucket, and without a policy a long-running door accretes
    // files without bound (round-12 verdict). Both appends have landed,
    // so a crash here is compactBucketed's self-healing window (see the
    // protocol above). IO-only — probes before/after are bit-identical
    // (StreamingSpec pins it).
    compactPolicy()
  }

  /** Streaming corpus ingest with dedup-at-the-door: every micro-batch is
    * (1) exact-deduped in-batch on the id, (2) collapsed to canonical
    * representatives of its own near-dup clusters, (3) anti-joined
    * against the sink's existing ids (checkpoint-replay safety), (4)
    * probed against the standing corpus with the asymmetric banded
    * MinHash join ([[graft.operators.Dedup.minHashNearDupsAgainst]]) so
    * near-dups of anything already ingested are dropped — and only then
    * appended. This is the end-to-end "curation pipeline as a stream"
    * composition: per-trigger cost scales with batch size × bucket
    * mates, never with corpus².
    *
    * Re-running with a fresh checkpoint (full source re-delivery) appends
    * nothing: exact replays die at (3), and near-dup replays die at (4).
    */
  def streamDedupIngest(
      stream: DataFrame, path: String, idCol: String,
      shingles: org.apache.spark.sql.Column, threshold: Double,
      cfg: Dedup.LshConfig,
      checkpointDir: String): Unit =
    drain(stream, checkpointDir)(
      dedupIngestBatch(_, path, idCol, shingles, threshold, cfg))

  /** One [[streamDedupIngest]] micro-batch, exposed so a crash-recovery
    * test can drive the IDENTICAL batch logic under an injected failure
    * (StreamingSpec kills the query after this returns — i.e. after the
    * sink append but before the checkpoint offset commit, the window
    * where a real crash forces the restarted query to REDELIVER the
    * batch). Replay safety is structural, not positional: exact replays
    * die at the id anti-join, near-dup replays at the corpus probe.
    */
  def dedupIngestBatch(
      batch: DataFrame, path: String, idCol: String,
      shingles: org.apache.spark.sql.Column, threshold: Double,
      cfg: Dedup.LshConfig): Unit =
    ingestBatch(batch, path, idCol,
      Dedup.minHashNearDups(_, idCol, shingles, threshold, cfg),
      Dedup.minHashNearDupsAgainst(_, _, idCol, shingles, shingles,
        threshold, cfg))

  /** The steady-state form of [[streamDedupIngest]]: dedup-at-the-door
    * through the PERSISTED MinHash index instead of re-signaturing the
    * sink corpus every micro-batch. [[dedupIngestBatch]] pays an
    * O(corpus) shingle+signature pass per trigger (SCALING.json measures
    * the gap: 8.7× vs 2.0× on a 10× corpus step); here the corpus side
    * of every probe reads the bucketed index tables exchange-free, and
    * accepted rows delta-append to the index
    * ([[graft.operators.Dedup.appendToMinHashIndex]], O(batch)) — so
    * per-trigger cost is O(batch), independent of corpus size. This is
    * the 100 TB shape of the ingest loop: build the index once, then
    * probe + merge forever (re-clustering only when the drift audit says
    * so).
    *
    * Contract: `indexTable` is a [[graft.operators.Dedup
    * .writeMinHashIndex]] index whose content equals the sink corpus at
    * `path` (bootstrap both empty — build the index from
    * `corpus.limit(0)` — or build both from the same standing corpus).
    * The per-batch commit protocol ([[ingestBatchIndexed]]) keeps them
    * in lockstep across crashes.
    */
  def streamDedupIngestIndexed(
      stream: DataFrame, path: String, idCol: String,
      shingles: org.apache.spark.sql.Column, threshold: Double,
      cfg: Dedup.LshConfig, indexTable: String,
      checkpointDir: String, autoCompactMaxFiles: Int = 0): Unit =
    drain(stream, checkpointDir)(
      dedupIngestBatchIndexed(_, path, idCol, shingles, threshold, cfg,
        indexTable, autoCompactMaxFiles))

  /** One [[streamDedupIngestIndexed]] micro-batch: the indexed door body
    * ([[ingestBatchIndexed]], which states the commit protocol) with
    * MinHash steps — in-batch [[graft.operators.Dedup.minHashNearDups]],
    * the corpus probe through the persisted index
    * ([[graft.operators.Dedup.minHashNearDupsAgainstIndex]]), the index
    * delta-append and [[graft.operators.Dedup.maybeCompactMinHashIndex]]
    * as the compaction policy.
    */
  def dedupIngestBatchIndexed(
      batch: DataFrame, path: String, idCol: String,
      shingles: org.apache.spark.sql.Column, threshold: Double,
      cfg: Dedup.LshConfig, indexTable: String,
      autoCompactMaxFiles: Int = 0): Unit = {
    val spark = batch.sparkSession
    // one _meta read serves both the probe and the append (r15); lazy, so
    // it runs after the body's entry heal
    lazy val meta = Some(Dedup.minHashIndexMeta(spark, indexTable))
    ingestBatchIndexed(batch, path, idCol, indexTable,
      Dedup.minHashNearDups(_, idCol, shingles, threshold, cfg),
      Dedup.minHashNearDupsAgainstIndex(_, idCol, shingles, threshold,
        indexTable, cfg, meta),
      Dedup.appendToMinHashIndex(_, idCol, shingles, indexTable, cfg, meta),
      () => Dedup.maybeCompactMinHashIndex(spark, indexTable,
        autoCompactMaxFiles))
  }

  /** Semantic (embedding-space) twin of [[streamDedupIngestIndexed]]:
    * the corpus probe reads the persisted semantic-IVF index
    * ([[graft.operators.Dedup.semanticNearDupsIvfAgainstIndex]] — the
    * batch routes through the index's own frozen quantizer) and accepted
    * vectors delta-append through it
    * ([[graft.operators.Dedup.appendToSemanticIvfIndex]]). Replaces
    * [[streamSemanticIngest]]'s per-trigger re-banding of the sink
    * corpus with O(batch) work; commit protocol in
    * [[ingestBatchIndexed]]. Pair with
    * [[graft.operators.Dedup.semanticIvfIndexDrift]] in the ingest loop:
    * when a batch's assignment shift crosses the floor, rebuild the
    * index with fresh centroids instead of merging on (StreamingSpec
    * demonstrates the full merge → drift → rebuild composition).
    */
  def streamSemanticIngestIndexed(
      stream: DataFrame, path: String, idCol: String, vecCol: String,
      threshold: Double, indexTable: String, checkpointDir: String,
      nassign: Int = 2, bandBits: Int = 8, numBands: Int = 16,
      autoCompactMaxFiles: Int = 0): Unit =
    drain(stream, checkpointDir)(
      semanticIngestBatchIndexed(_, path, idCol, vecCol, threshold,
        indexTable, nassign, bandBits, numBands, autoCompactMaxFiles))

  /** One [[streamSemanticIngestIndexed]] micro-batch: the indexed door
    * body ([[ingestBatchIndexed]]) with semantic steps. In-batch
    * self-dedup stays hyperplane-LSH (the batch has no index); the
    * corpus probe is IVF through the index's stored centroids — the two
    * candidate generators whose disagreement the protocol's
    * straight-to-sink leg makes harmless on replay.
    */
  def semanticIngestBatchIndexed(
      batch: DataFrame, path: String, idCol: String, vecCol: String,
      threshold: Double, indexTable: String, nassign: Int = 2,
      bandBits: Int = 8, numBands: Int = 16,
      autoCompactMaxFiles: Int = 0): Unit =
    ingestBatchIndexed(batch, path, idCol, indexTable,
      Dedup.semanticNearDups(_, idCol, vecCol, threshold, bandBits, numBands),
      Dedup.semanticNearDupsIvfAgainstIndex(_, idCol, vecCol, threshold,
        indexTable, nassign),
      Dedup.appendToSemanticIvfIndex(_, idCol, vecCol, indexTable, nassign),
      () => Dedup.maybeCompactSemanticIvfIndex(batch.sparkSession,
        indexTable, autoCompactMaxFiles))

  /** Streaming changelog compaction: maintain a materialized snapshot of
    * an I/U/D changelog stream — the continuously-updated table every
    * log-structured format derives at read time, kept fresh per
    * micro-batch instead. Each batch merges into the state table via
    * [[graft.operators.Pipeline.latestByKey]] over (previous state ∪
    * batch), swapped in atomically (rename-aside, crash-recoverable —
    * [[graft.sources.Sinks.overwriteWithDerived]]).
    *
    * The state table RETAINS tombstones (winning op = "D" rows): drop
    * them and a replayed or late lower-seq row would resurrect a deleted
    * key on the next merge. Read the live view with
    * [[changelogSnapshot]]. Checkpoint replays and full source
    * re-deliveries are therefore idempotent — the max(struct) merge is.
    * Per-trigger cost: one shuffle of batch ∪ state on the key; at
    * warehouse scale partition the state table on the key range so the
    * merge rewrites only touched partitions.
    */
  def streamChangelogCompact(
      stream: DataFrame, path: String, keys: Seq[String], seqCol: String,
      checkpointDir: String): Unit =
    drain(stream, checkpointDir) { b =>
      if (!sinkExists(b.sparkSession, path))
        Pipeline.latestByKey(b, keys, seqCol).write.parquet(path)
      else
        Sinks.overwriteWithDerived(b.sparkSession, path,
          prev => Pipeline.latestByKey(prev.unionByName(b), keys, seqCol))
    }

  /** The live view of a [[streamChangelogCompact]] state table: latest
    * rows minus tombstones. */
  def changelogSnapshot(spark: SparkSession, path: String,
                        opCol: String): DataFrame =
    spark.read.parquet(path)
      .filter(org.apache.spark.sql.functions.col(opCol) =!= "D")

  /** Semantic (embedding-space) twin of [[streamDedupIngest]]: each
    * micro-batch of embeddings is id-deduped, self-deduped semantically
    * (banded hyperplane LSH + exact cosine, cluster minima kept), probed
    * against the standing corpus with
    * [[graft.operators.Dedup.semanticNearDupsAgainst]], and only
    * semantically novel rows append. Checkpoint replays and source
    * re-deliveries are absorbed by the id anti-join; the corpus-side
    * banding is recomputed per batch here — a deployment persists it
    * alongside the corpus and appends to it incrementally.
    */
  def streamSemanticIngest(
      stream: DataFrame, path: String, idCol: String, vecCol: String,
      threshold: Double, checkpointDir: String,
      bandBits: Int = 8, numBands: Int = 16): Unit =
    drain(stream, checkpointDir)(ingestBatch(_, path, idCol,
      Dedup.semanticNearDups(_, idCol, vecCol, threshold, bandBits, numBands),
      Dedup.semanticNearDupsAgainst(_, _, idCol, vecCol, threshold,
        bandBits, numBands)))

  /** [[streamIdempotentAppend]]'s relational twin: each micro-batch is
    * deduped in-batch, anti-joined against the JDBC sink's existing keys
    * (key-pruned read), and appended — so checkpoint replays and source
    * re-deliveries insert nothing twice even though plain JDBC INSERT has
    * no ON CONFLICT. First batch creates the table. This is the
    * reference's Postgres ON CONFLICT DO NOTHING sink rebuilt as
    * stream + idempotent write (dags/evidence_images_processing.py:153-179).
    */
  def streamIdempotentJdbcAppend(
      stream: DataFrame, url: String, table: String, keys: Seq[String],
      checkpointDir: String): Unit =
    drain(stream, checkpointDir) { df =>
      val spark = df.sparkSession
      // Key-pruned sink read (Catalyst pushes the projection into the
      // JDBC scan). At large sink sizes bound this further: a sink-side
      // time-window predicate (the reference's 15-day lookback) or
      // Jdbc.readPartitioned keeps the per-batch read from growing with
      // total history.
      val newRows =
        if (!jdbcTableExists(spark, url, table)) df.dropDuplicates(keys)
        else Pipeline.idempotentNewRows(
          df, Jdbc.read(spark, url, table).select(keys.map(col): _*), keys)
      Jdbc.write(newRows, url, table, SaveMode.Append)
    }

  /** Probe existence through Spark's own JDBC relation (a `WHERE 1=0`
    * schema query) rather than DriverManager metadata: the dialect handles
    * identifier case folding (metadata.getTables(toUpperCase) matches only
    * upper-folding databases like Derby — it would silently report
    * "missing" on Postgres/MySQL and break the idempotency contract), and
    * the caller's connection options ride along.
    */
  private def jdbcTableExists(spark: SparkSession, url: String, table: String): Boolean =
    scala.util.Try(Jdbc.read(spark, url, table).schema).isSuccess

  /** Drain a streaming DataFrame into an in-memory table synchronously
    * (AvailableNow — process everything currently discoverable, then stop)
    * and return the materialized result. Batch-incremental execution, the
    * exact semantic of the reference's daily scheduled catch-up runs.
    *
    * `outputMode` is deliberately NOT defaulted: under AvailableNow an
    * aggregation in append mode silently drops every window newer than the
    * final watermark — the caller must choose ("complete" for finalized
    * aggregate snapshots, "append" for row streams / closed-state output).
    */
  def runAvailableNow(spark: SparkSession, stream: DataFrame, name: String,
                      outputMode: String): DataFrame = {
    val q = stream.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Same-pass progress metrics for a stream: attach named aggregates via
    * `observe` (computed inside the running plan — count/sum/min/max
    * partials folded per task, NO second read of the data) and collect
    * the per-micro-batch values from the query's progress events after an
    * AvailableNow drain. This is the streaming face of
    * [[graft.sources.Sinks.writeWithAudit]]: the ingest ships rows AND
    * reports what it shipped from one execution.
    *
    * Returns (result table, per-batch metric rows in batch order). The
    * metric rows answer "how many rows / how much value did batch i
    * carry" — the numbers a production ingest emits to its metrics bus.
    */
  def runAvailableNowObserved(spark: SparkSession, stream: DataFrame,
                              name: String, outputMode: String,
                              metrics: Map[String, org.apache.spark.sql.Column]):
      (DataFrame, Seq[Map[String, Any]]) = {
    require(metrics.nonEmpty, "needs at least one metric")
    val named = metrics.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    val q = stream.observe("graft_ingest", named.head, named.tail: _*)
      .writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val perBatch = q.recentProgress.toSeq
      .filter(p => p.observedMetrics.containsKey("graft_ingest"))
      .sortBy(_.batchId)
      .map { p =>
        val row = p.observedMetrics.get("graft_ingest")
        row.schema.fieldNames.map(f => f -> row.getAs[Any](f)).toMap
      }
    (spark.table(name), perBatch)
  }
}
