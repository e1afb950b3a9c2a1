package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("count-min sketch builds as a streaming aggregation, equal to batch") {
    import spark.implicits._
    import graft.operators.Sketches
    // the sketch plan (posexplode -> groupBy count) runs unchanged on a
    // readStream frame: state is bounded by d x w rows regardless of how
    // long the stream runs, so Complete mode is safe forever
    val stream = Streams.eventsStream(spark, TestSpark.sf, maxFilesPerTrigger = 1)
    val got = Streams.runAvailableNow(spark,
        Sketches.cmsBuild(stream, col("event_type")), "cms_stream", "complete")
      .as[(Int, Long, Long)].collect().toSet
    val batch = Sketches.cmsBuild(
        Tables.events(spark, TestSpark.sf), col("event_type"))
      .as[(Int, Long, Long)].collect().toSet
    assert(got == batch, "streaming sketch must equal the one-pass batch sketch")
    assert(got.nonEmpty)
  }

  test("det hll registers build as a streaming aggregation, equal to batch") {
    import spark.implicits._
    import graft.operators.Sketches
    // same property as the CMS: the register frame (groupBy bucket ->
    // max rho) is bounded by m rows forever, so Complete mode never
    // grows state; a day's stream yields the same registers as the batch
    val stream = Streams.eventsStream(spark, TestSpark.sf, maxFilesPerTrigger = 1)
    val got = Streams.runAvailableNow(spark,
        Sketches.hllRegisters(stream, col("user_id"), Seq.empty),
        "hll_stream", "complete")
      .as[(Long, Int)].collect().toSet
    val batch = Sketches.hllRegisters(
        Tables.events(spark, TestSpark.sf), col("user_id"), Seq.empty)
      .as[(Long, Int)].collect().toSet
    assert(got == batch, "streaming registers must equal batch registers")
    assert(got.nonEmpty)
  }

  test("AvailableNow streaming tumbling agg equals the batch computation") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    // complete mode so the memory sink holds final per-window rows even
    // without future batches advancing the watermark
    val got = Streams.runAvailableNow(spark,
        Streams.tumblingCounts(stream), "t_tumbling", outputMode = "complete")
      .select("bucket_start", "event_type", "n_events", "total_value")
      .collect().map(_.toSeq).toSet

    val batch = EventQueries.all("w_tumbling")(spark, TestSpark.sf)
      .collect().map(_.toSeq).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("watermarked dedupe drops in-batch duplicates") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    val doubled = stream.union(stream) // duplicate every event
    val out = Streams.runAvailableNow(spark,
      Streams.dedupeWithWatermark(doubled, Seq("event_id")), "t_dedupe", "append")
    val n = out.count()
    val expected = Tables.events(spark, TestSpark.sf).count()
    assert(n == expected)
  }

  test("flatMapGroupsWithState burst detector equals gaps-and-islands batch") {
    import org.apache.spark.sql.functions.{col, expr}
    val bursts = Streams.burstDetector(
        Tables.events(spark, TestSpark.sf), gapMinutes = 30, minEvents = 1)
      .withColumn("length_s", expr("(end_ns - start_ns) div 1000000000"))
      .select(col("user_id"), col("n_events"), col("length_s"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val sessions = EventQueries.all("q_sessionize")(spark, TestSpark.sf)
      .select(col("user_id"), col("n_events"), col("session_length_s").as("length_s"))
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(bursts == sessions)
    assert(bursts.nonEmpty)
  }

  test("burst detector runs in streaming mode with event-time timeouts") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    val out = Streams.runAvailableNow(spark,
      Streams.burstDetector(stream, gapMinutes = 30, minEvents = 2).toDF(),
      "t_bursts", "append")
    // closed bursts only (open ones wait for watermark silence); every
    // emitted burst must also exist in the batch result
    val batch = Streams.burstDetector(
        Tables.events(spark, TestSpark.sf), gapMinutes = 30, minEvents = 2)
      .collect().map(b => (b.user_id, b.n_events, b.start_ns, b.end_ns)).toSet
    val streamed = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.subsetOf(batch))
    assert(streamed.nonEmpty)
  }

  test("foreachBatch idempotent sink: reruns and re-deliveries append nothing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val sink = s"$tmp/sink"
    // run 1: fresh checkpoint, doubled input (same events from two files)
    val srcDir = s"$tmp/src"
    new java.io.File(srcDir).mkdirs()
    val fixture = java.nio.file.Paths.get(s"${TestSpark.sf}/events.parquet")
    java.nio.file.Files.copy(fixture,
      java.nio.file.Paths.get(s"$srcDir/events_a.parquet"))
    java.nio.file.Files.copy(fixture,
      java.nio.file.Paths.get(s"$srcDir/events_b.parquet"))
    val expected = spark.read.parquet(s"${TestSpark.sf}/events.parquet").count()

    def run(cp: String): Unit = Streams.streamIdempotentAppend(
      Streams.eventsStream(spark, srcDir, maxFilesPerTrigger = 1),
      sink, Seq("event_id"), cp)

    run(s"$tmp/cp1")
    assert(spark.read.parquet(sink).count() == expected,
      "duplicate deliveries across micro-batches must not append")
    // run 2: FRESH checkpoint (worst case: full source replay) — still no dupes
    run(s"$tmp/cp2")
    assert(spark.read.parquet(sink).count() == expected)
  }

  test("streaming changelog compaction: snapshot == batch apply; replay and late deletes safe") {
    import graft.operators.Pipeline
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc-stream")
    val state = s"$tmp/state"
    val srcDir = s"$tmp/src"
    new java.io.File(srcDir).mkdirs()
    // changelog with deletes and a post-delete revival, delivered as two
    // files so the merge crosses micro-batches (maxFilesPerTrigger = 1)
    val part1 = Seq((1L, 1L, "I", 10L), (2L, 1L, "I", 20L),
      (3L, 5L, "D", 0L)).toDF("k", "seq", "op", "v")
    val part2 = Seq((1L, 2L, "U", 11L), (2L, 3L, "D", 0L),
      (3L, 2L, "U", 99L), // LATE lower-seq update: must NOT resurrect 3
      (4L, 1L, "I", 40L)).toDF("k", "seq", "op", "v")
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val t = s"$tmp/w_$name"
      df.coalesce(1).write.parquet(t)
      val f = new java.io.File(t).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    writeOne(part1, "a")
    writeOne(part2, "b")
    val schema = part1.schema
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    def run(cp: String): Unit = Streams.streamChangelogCompact(
      src, state, Seq("k"), "seq", cp)

    run(s"$tmp/cp1")
    val batchAll = part1.unionByName(part2)
    val expected = Pipeline.applyChangelog(batchAll, Seq("k"), "seq", "op")
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    def snap = Streams.changelogSnapshot(spark, state, "op")
      .as[(Long, Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(snap == expected)
    assert(snap.map(_._1) == Seq(1L, 4L),
      "2 deleted, 3 stays deleted under the late lower-seq update")
    // full source re-delivery with a fresh checkpoint: idempotent
    run(s"$tmp/cp2")
    assert(snap == expected)
  }

  test("token-window chunking runs unchanged on a stream, equal to batch") {
    import spark.implicits._
    // stateless explode-only projection -> Append mode, no watermark, no
    // state store: the RAG chunker IS a streaming ingest transform
    val docs = Tables.documents(spark, TestSpark.sf)
    val srcDir = java.nio.file.Files.createTempDirectory("graft-chunk-src")
    docs.repartition(3).write.mode("overwrite").parquet(srcDir.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val got = Streams.runAvailableNow(spark,
        graft.operators.TextAnalysis.tokenChunks(stream, "text", "doc_id",
          window = 16, stride = 12), "chunk_stream", "append")
      .as[(Long, Int, Int, String)].collect().toSet
    val batch = graft.operators.TextAnalysis.tokenChunks(docs, "text",
        "doc_id", window = 16, stride = 12)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(got == batch, "streaming chunks must equal batch chunks")
    assert(got.nonEmpty)
  }

  test("streaming dedup ingest: corpus stays near-dup-free, re-delivery appends nothing") {
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-ingest")
    val srcDir = s"$tmp/src"; val sink = s"$tmp/corpus"
    new java.io.File(srcDir).mkdirs()
    // two micro-batches: fixture docs split by id parity (the fixture
    // contains near-dup pairs within and across the halves)
    val docs = Tables.documents(spark, TestSpark.sf)
    // the file-stream source does not recurse into directory outputs —
    // stage each half and drop the single part-file into srcDir
    def writeOne(df: org.apache.spark.sql.DataFrame, out: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(out))
    }
    writeOne(docs.filter(col("doc_id") % 2 === 0), s"$srcDir/a.parquet")
    writeOne(docs.filter(col("doc_id") % 2 === 1), s"$srcDir/b.parquet")
    def sh = ShingleFunctions.wordShingleHashes(TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    def run(cp: String): Unit = graft.streaming.Streams.streamDedupIngest(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      sink, "doc_id", sh, 0.5, cfg, cp)

    run(s"$tmp/cp1")
    val corpus = spark.read.parquet(sink)
    val n1 = corpus.count()
    assert(n1 > 0)
    // core contract: nothing in the ingested corpus near-dups anything else
    val residual = Dedup.minHashNearDups(corpus, "doc_id", sh, 0.5, cfg)
    assert(residual.isEmpty, "ingested corpus must be near-dup-free")
    // nothing unique was dropped: every missing doc has a >=t twin in the
    // original fixture (it was dropped as SOMEONE's near-dup)
    val droppedIds = docs.select("doc_id")
      .except(corpus.select("doc_id")).as[Long].collect().toSet
    if (droppedIds.nonEmpty) {
      val base = docs.select(col("doc_id").as("id"), sh.as("s"))
        .filter(size(col("s")) > 0)
      val withTwin = base.alias("a").join(base.alias("b"),
          col("a.id") =!= col("b.id") &&
          TextFunctions.jaccard(col("a.s"), col("b.s")) >= 0.5)
        .select(col("a.id")).distinct().as[Long].collect().toSet
      assert(droppedIds.subsetOf(withTwin),
        s"dropped unique docs: ${droppedIds -- withTwin}")
    }
    // worst-case re-delivery: fresh checkpoint, full source replay
    run(s"$tmp/cp2")
    assert(spark.read.parquet(sink).count() == n1,
      "re-delivered batches must not append exact or near duplicates")
  }

  test("streaming dedup ingest: crash after batch 2's sink write, restart from checkpoint, corpus equals uninterrupted run") {
    // The crash-recovery half of exactly-once (the reference analogue is
    // the 15-day re-scan + ON CONFLICT idempotency): kill the query
    // AFTER micro-batch 2 of 3 has appended to the sink but BEFORE its
    // offsets commit to the checkpoint — the worst crash window, because
    // the restarted query REDELIVERS batch 2 and a non-idempotent sink
    // would double its rows. Recovery must (a) resume from the SAME
    // checkpoint, (b) absorb the replayed batch, (c) process batch 3,
    // and (d) land exactly the uninterrupted run's corpus.
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash-ingest")
    val srcDir = s"$tmp/src"; new java.io.File(srcDir).mkdirs()
    val docs = Tables.documents(spark, TestSpark.sf)
    def writeOne(df: org.apache.spark.sql.DataFrame, out: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(out))
    }
    // three micro-batches by id mod 3 (maxFilesPerTrigger = 1)
    (0 to 2).foreach { m =>
      writeOne(docs.filter(col("doc_id") % 3 === m), s"$srcDir/f$m.parquet")
    }
    def sh = ShingleFunctions.wordShingleHashes(TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    def src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    // reference: the uninterrupted 3-batch run
    val refSink = s"$tmp/ref"
    graft.streaming.Streams.streamDedupIngest(
      src, refSink, "doc_id", sh, 0.5, cfg, s"$tmp/cpRef")
    val expect = spark.read.parquet(refSink)
      .select("doc_id").as[Long].collect().sorted.toSeq

    // crashing run: the real per-batch logic (dedupIngestBatch), killed
    // after the SECOND batch's sink append returns — the foreachBatch
    // exception fails the query before Spark commits that batch's
    // offsets, exactly what a process crash between sink write and
    // checkpoint commit leaves behind
    val sink = s"$tmp/corpus"; val cp = s"$tmp/cp"
    @volatile var batchesRun = 0
    def startCrashy() = src.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.streaming.Streams.dedupIngestBatch(
          b.toDF(), sink, "doc_id", sh, 0.5, cfg)
        batchesRun += 1
        if (batchesRun == 2)
          throw new RuntimeException("injected crash after sink write")
        ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      startCrashy().awaitTermination()
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    assert(batchesRun == 2, s"crash must land after batch 2, ran $batchesRun")
    val midCount = spark.read.parquet(sink).count()
    assert(midCount > 0, "batch 2's append must be on disk at crash time")

    // recovery: SAME checkpoint; batch 2 is redelivered (its offsets
    // never committed) and batch 3 then processes
    graft.streaming.Streams.streamDedupIngest(
      src, sink, "doc_id", sh, 0.5, cfg, cp)
    assert(batchesRun == 2, "recovery must run in its own query, not the crashy hook")
    val got = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got.distinct.size == got.size,
      "replayed batch must not double-append any id")
    assert(got == expect,
      s"recovered corpus must equal the uninterrupted run " +
        s"(got ${got.size} ids, expected ${expect.size})")
  }

  test("streaming semantic ingest: corpus stays semantically unique, replay appends nothing") {
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sem-ingest")
    val srcDir = s"$tmp/src"; val sink = s"$tmp/corpus"
    new java.io.File(srcDir).mkdirs()
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
    def writeOne(df: org.apache.spark.sql.DataFrame, out: String): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("graft-stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(out))
    }
    // batch A: even ids; batch B: odd ids PLUS scaled copies of five even
    // vectors (cosine exactly 1 to their batch-A originals)
    val a = emb.filter(col("vec_id") % 2 === 0)
    val copies = a.limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    writeOne(a, s"$srcDir/a.parquet")
    writeOne(emb.filter(col("vec_id") % 2 === 1).unionByName(copies),
      s"$srcDir/b.parquet")

    def run(cp: String): Unit = graft.streaming.Streams.streamSemanticIngest(
      spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir),
      sink, "vec_id", "embedding", threshold = 0.99, checkpointDir = cp)

    run(s"$tmp/cp1")
    val corpus = spark.read.parquet(sink)
    val n1 = corpus.count()
    assert(n1 > 0)
    // the cross-batch scaled copies must have been rejected at the door
    assert(corpus.filter(col("vec_id") >= 1000000L).isEmpty,
      "scaled duplicates of corpus vectors must not be ingested")
    // nothing in the corpus semantically duplicates anything else
    val residual = Dedup.semanticNearDups(corpus, "vec_id", "embedding",
      threshold = 0.99)
    assert(residual.isEmpty, "ingested corpus must be semantically unique")
    // worst-case re-delivery: fresh checkpoint, full source replay
    run(s"$tmp/cp2")
    assert(spark.read.parquet(sink).count() == n1,
      "re-delivered batches must not append semantic duplicates")
  }

  test("stream-stream interval join equals the batch inequality join") {
    import spark.implicits._
    def split(df: org.apache.spark.sql.DataFrame) = (
      df.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("sts")),
      df.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts")))

    val (ss, sc) = split(Streams.eventsStream(spark, TestSpark.sf))
    val got = Streams.runAvailableNow(spark,
        Streams.intervalJoin(ss, sc, Seq("user_id"), "sts", "cts",
          within = "1 day", watermark = "2 days")
          .select("signup_id", "click_id"),
        "t_ssjoin", "append")
      .as[(Long, Long)].collect().toSet

    val (bs, bc) = split(Tables.events(spark, TestSpark.sf))
    val batch = bs.join(bc, bs("user_id") === bc("user_id") &&
        bc("cts") >= bs("sts") &&
        bc("cts") <= bs("sts") + org.apache.spark.sql.functions.expr("INTERVAL 1 DAY"))
      .select("signup_id", "click_id").as[(Long, Long)].collect().toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("streaming session windows match batch sessionization session count") {
    val stream = Streams.eventsStream(spark, TestSpark.sf)
    val sessions = Streams.runAvailableNow(spark,
      Streams.sessionAggregate(stream), "t_sessions", outputMode = "complete")
    val batchSessions = EventQueries.all("q_sessionize")(spark, TestSpark.sf)
    assert(sessions.count() == batchSessions.count())
    assert(sessions.agg(sum("n_events")).head().getLong(0) ==
      Tables.events(spark, TestSpark.sf).count())
  }

  test("observed ingest metrics: per-batch counts sum to the input, same pass") {
    import org.apache.spark.sql.functions.{count, lit, sum, expr}
    val stream = Streams.eventsStream(spark, TestSpark.sf, maxFilesPerTrigger = 1)
      .select(expr("event_id"), expr("value"))
    val (table, perBatch) = Streams.runAvailableNowObserved(spark, stream,
      "t_observed", "append",
      Map("n_rows" -> count(lit(1)),
        "cents" -> sum(expr("CAST(round(value * 100) AS BIGINT)"))))
    val expectedRows = Tables.events(spark, TestSpark.sf).count()
    val expectedCents = Tables.events(spark, TestSpark.sf)
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)"))).head().getLong(0)
    assert(perBatch.nonEmpty)
    assert(perBatch.map(_("n_rows").asInstanceOf[Long]).sum == expectedRows,
      "per-batch observed counts must sum to the full input")
    assert(perBatch.map(_("cents").asInstanceOf[Long]).sum == expectedCents,
      "per-batch observed sums must fold to the batch total")
    assert(table.count() == expectedRows)
  }

  test("streaming per-key top-k: last emission per key equals batch top-k") {
    import spark.implicits._
    val stream = Streams.eventsStream(spark, TestSpark.sf, maxFilesPerTrigger = 1)
    // Update mode re-emits a key each time a batch touches it; with a huge
    // TTL nothing is evicted, so the LAST emission is the full-stream top-k
    val emitted = Streams.runAvailableNow(spark,
        Streams.topKPerKey(stream, k = 5, ttlMinutes = 1000000).toDF(),
        "t_topk", "update")
      .collect()
    val lastPerKey = emitted.zipWithIndex
      .groupBy(_._1.getString(0))
      .map { case (k, rs) => k -> rs.maxBy(_._2)._1 }
    val batch = Streams.topKPerKey(
        Tables.events(spark, TestSpark.sf), k = 5)
      .collect().map(t => t.key -> (t.top_vals, t.top_ids)).toMap
    assert(lastPerKey.keySet == batch.keySet)
    batch.foreach { case (k, (vals, ids)) =>
      val last = lastPerKey(k)
      assert(last.getSeq[Long](1) == vals && last.getSeq[Long](2) == ids,
        s"streamed top-k for $k must equal batch")
    }
    assert(batch.nonEmpty && batch.values.forall(_._1.length == 5))
    // leaderboards are sorted value desc, id asc on ties
    batch.values.foreach { case (vals, _) =>
      assert(vals == vals.sortBy(-_)) }
  }

  test("streaming top-k TTL evicts idle keys: re-appearing key starts fresh") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-topk-ttl")
    val dayNs = 86400000000000L
    // file A: key "hot" value 99.0 at day 0 + filler advancing nothing
    // file B: key "filler" at day 10 pushes the watermark far past
    //         hot's TTL; file C: "hot" returns at day 10 with value 1.0
    def write(name: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$tmp/$name")
    // ts must sit ABOVE the initial watermark (0): an event at exactly
    // epoch 0 is filtered as late by the stateful operator
    write("a", Seq((1L, 3600000000000L, 1L, "hot", 99.0, "{}")))
    write("b", Seq((2L, 10L * dayNs, 1L, "filler", 5.0, "{}")))
    // b2: ANOTHER hot-free batch — timeouts only fire for keys with no
    // data in the trigger, and the watermark from b is only visible to
    // the NEXT batch, so eviction of "hot" happens while processing b2
    write("b2", Seq((4L, 10L * dayNs + 500L, 1L, "filler", 6.0, "{}")))
    write("c", Seq((3L, 10L * dayNs + 1000L, 1L, "hot", 1.0, "{}")))
    // flatten part-files into one source dir, ordered by name
    val src = s"$tmp/src"
    new java.io.File(src).mkdirs()
    Seq("a", "b", "b2", "c").zipWithIndex.foreach { case (n, i) =>
      val part = new java.io.File(s"$tmp/$n").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$src/events_$n.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      // the file source orders batches by modification time; copies land
      // within one clock tick, so pin strictly increasing mtimes
      dst.setLastModified((i + 1) * 60000L)
    }
    val emitted = Streams.runAvailableNow(spark,
        Streams.topKPerKey(
          Streams.eventsStream(spark, src, maxFilesPerTrigger = 1),
          k = 5, ttlMinutes = 60, watermark = "0 seconds").toDF(),
        "t_topk_ttl", "update")
      .collect()
    // order-free (the memory sink does not guarantee emission order):
    // batch a emits [9900]; if the TTL evicted "hot" before file c, its
    // return emits a fresh [100] — a SURVIVING state would emit
    // [9900, 100] instead, which must never appear
    val hotEmissions = emitted.filter(_.getString(0) == "hot")
      .map(r => r.getSeq[Long](1)).toSet
    assert(hotEmissions == Set(Seq(9900L), Seq(100L)),
      s"idle key must be evicted and restart, got $hotEmissions")
  }

  // shared by the indexed-door tests: stage a DataFrame as one parquet
  // part-file so the file-stream source sees it as one micro-batch
  private def writeOneFile(df: org.apache.spark.sql.DataFrame, out: String): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = new java.io.File(stage.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(out))
    ()
  }

  test("indexed dedup ingest door equals the in-plan door; index and sink stay in lockstep; replay appends nothing") {
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-idx")
    val srcDir = s"$tmp/src"; new java.io.File(srcDir).mkdirs()
    val docs = Tables.documents(spark, TestSpark.sf)
    // three micro-batches by id mod 3 — cross-batch AND in-batch near-dups
    (0 to 2).foreach { m =>
      writeOneFile(docs.filter(col("doc_id") % 3 === m), s"$srcDir/f$m.parquet")
    }
    def sh = ShingleFunctions.wordShingleHashes(TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    def src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

    // reference: the in-plan door over the identical batch sequence
    val refSink = s"$tmp/ref"
    graft.streaming.Streams.streamDedupIngest(
      src, refSink, "doc_id", sh, 0.5, cfg, s"$tmp/cpRef")
    val expect = spark.read.parquet(refSink)
      .select("doc_id").as[Long].collect().sorted.toSeq

    val sink = s"$tmp/corpus"
    val table = "t_door_idx_spec"
    def runIndexed(cp: String): Unit = {
      Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, table)
      val f = new java.io.File(sink)
      if (f.exists()) { f.listFiles().foreach(_.delete()); f.delete() }
      graft.streaming.Streams.streamDedupIngestIndexed(
        src, sink, "doc_id", sh, 0.5, cfg, table, cp)
    }
    runIndexed(s"$tmp/cp1")
    val got = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got == expect,
      s"indexed door must land the in-plan door's corpus " +
        s"(got ${got.size}, expected ${expect.size})")
    // lockstep invariant: the index holds exactly the sink's ids (the
    // drains appended from the streaming clone session, so refresh this
    // session's cached file listing before reading)
    spark.catalog.refreshTable(s"${table}_docs")
    val idxIds = spark.table(s"${table}_docs")
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == got, "index _docs must mirror the sink ids exactly")
    // worst-case re-delivery: fresh checkpoint + fresh index, full replay
    runIndexed(s"$tmp/cp2")
    assert(spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().sorted.toSeq == expect,
      "full source re-delivery must reconverge to the same corpus")
  }

  /** The crash window between an indexed door's index append and its
    * sink append, driven through `door` (batch, sink path): batch 1
    * ingests, batch 2's accepted rows reach the index but not the real
    * sink, and the replay of batch 2 must complete the crashed attempt
    * exactly. Both indexed doors share one batch body; each runs this.
    */
  private def assertCrashWindowReplay(idCol: String, table: String,
      b1: org.apache.spark.sql.DataFrame, b2: org.apache.spark.sql.DataFrame)(
      door: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-crashwin")
    val sink = s"$tmp/corpus"
    door(b1, sink)
    val afterB1 = spark.read.parquet(sink)
      .select(idCol).as[Long].collect().sorted.toSeq
    // reference: what an uninterrupted batch-2 ingest would land (computed
    // on a throwaway COPY of the sink so the real state stays pristine; the
    // shared index advances — exactly the crash-window state: batch 2's
    // accepted rows are in the index, the real sink never saw them)
    val sinkCopy = s"$tmp/copy"
    spark.read.parquet(sink).write.parquet(sinkCopy)
    door(b2, sinkCopy)
    val expect = spark.read.parquet(sinkCopy)
      .select(idCol).as[Long].collect().sorted.toSeq
    assert(spark.read.parquet(sink)
      .select(idCol).as[Long].collect().sorted.toSeq == afterB1,
      "crash-window precondition: real sink must not have batch 2 yet")
    // replay of batch 2 against the real sink: the indexed-but-not-sunk
    // rows must land verbatim (no re-probe), nothing twice
    door(b2, sink)
    val got = spark.read.parquet(sink)
      .select(idCol).as[Long].collect().sorted.toSeq
    assert(got == expect,
      "replayed batch must complete the crashed attempt exactly")
    assert(got.distinct.size == got.size, "no id may land twice")
    val idxIds = spark.table(s"${table}_docs")
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == got, "index and sink must be back in lockstep")
    // and a SECOND replay of the same batch is a complete no-op
    door(b2, sink)
    assert(spark.read.parquet(sink).count() == got.size,
      "consumed replays must append nothing")
  }

  test("indexed door crash between index append and sink append: replay routes accepted rows straight to the sink, exactly once") {
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = ShingleFunctions.wordShingleHashes(TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    val table = "t_door_crashwin_spec"
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, table)
    assertCrashWindowReplay("doc_id", table,
        docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 3 === 1)) { (b, sink) =>
      graft.streaming.Streams.dedupIngestBatchIndexed(
        b, sink, "doc_id", sh, 0.5, cfg, table)
    }
  }

  test("semantic indexed door crash between index append and sink append: replay routes accepted rows straight to the sink, exactly once") {
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
    val table = "t_sem_door_crashwin_spec"
    val anchors = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    Dedup.writeSemanticIvfIndex(emb.limit(0), "vec_id", "embedding",
      anchors, table, nassign = 2)
    val b1 = emb.filter(col("vec_id") % 3 === 0)
    // batch 2 also carries scaled copies of five batch-1 vectors (cosine
    // 1), so the corpus probe has rows to reject on every attempt
    val copies = b1.orderBy("vec_id").limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    assertCrashWindowReplay("vec_id", table, b1,
        emb.filter(col("vec_id") % 3 === 1).unionByName(copies)) { (b, sink) =>
      graft.streaming.Streams.semanticIngestBatchIndexed(
        b, sink, "vec_id", "embedding", 0.99, table)
    }
  }

  test("indexed door crash after sink write before offset commit: checkpoint recovery equals the uninterrupted run") {
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-crashcp")
    val srcDir = s"$tmp/src"; new java.io.File(srcDir).mkdirs()
    val docs = Tables.documents(spark, TestSpark.sf)
    (0 to 2).foreach { m =>
      writeOneFile(docs.filter(col("doc_id") % 3 === m), s"$srcDir/f$m.parquet")
    }
    def sh = ShingleFunctions.wordShingleHashes(TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    def src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val table = "t_door_crashcp_spec"
    val refTable = "t_door_crashcp_ref"
    // reference: uninterrupted indexed run on twin state
    val refSink = s"$tmp/ref"
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, refTable)
    graft.streaming.Streams.streamDedupIngestIndexed(
      src, refSink, "doc_id", sh, 0.5, cfg, refTable, s"$tmp/cpRef")
    val expect = spark.read.parquet(refSink)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // crashing run: full batch logic, then fail the query AFTER batch 2's
    // writes land but BEFORE its offsets commit — recovery REDELIVERS it
    val sink = s"$tmp/corpus"; val cp = s"$tmp/cp"
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, table)
    @volatile var batchesRun = 0
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      src.writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          graft.streaming.Streams.dedupIngestBatchIndexed(
            b.toDF(), sink, "doc_id", sh, 0.5, cfg, table)
          batchesRun += 1
          if (batchesRun == 2)
            throw new RuntimeException("injected crash after sink write")
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    assert(batchesRun == 2)
    // recovery from the SAME checkpoint and the SAME (already advanced)
    // index: batch 2 redelivers as a consumed replay, batch 3 processes
    graft.streaming.Streams.streamDedupIngestIndexed(
      src, sink, "doc_id", sh, 0.5, cfg, table, cp)
    val got = spark.read.parquet(sink)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got.distinct.size == got.size, "no id may land twice")
    assert(got == expect,
      s"recovered corpus must equal the uninterrupted run " +
        s"(got ${got.size}, expected ${expect.size})")
    spark.catalog.refreshTable(s"${table}_docs")
    val idxIds = spark.table(s"${table}_docs")
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == got, "index and sink must end in lockstep")
  }

  test("indexed semantic ingest door: duplicates rejected through the index, replay appends nothing") {
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sem-door-idx")
    val srcDir = s"$tmp/src"; val sink = s"$tmp/corpus"
    new java.io.File(srcDir).mkdirs()
    val emb = Tables.embeddings(spark, TestSpark.sf)
      .select("vec_id", "embedding")
    val a = emb.filter(col("vec_id") % 2 === 0)
    // batch B carries scaled copies of five batch-A vectors (cosine 1):
    // the door must reject them THROUGH the index probe
    val copies = a.limit(5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    writeOneFile(a, s"$srcDir/a.parquet")
    writeOneFile(emb.filter(col("vec_id") % 2 === 1).unionByName(copies),
      s"$srcDir/b.parquet")
    val table = "t_sem_door_spec"
    // quantizer: seeded anchors from the full frame, frozen for the run
    val anchors = emb.orderBy("vec_id").limit(8)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    def runIndexed(cp: String): Unit = {
      Dedup.writeSemanticIvfIndex(emb.limit(0), "vec_id", "embedding",
        anchors, table, nassign = 2)
      val f = new java.io.File(sink)
      if (f.exists()) { f.listFiles().foreach(_.delete()); f.delete() }
      graft.streaming.Streams.streamSemanticIngestIndexed(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir),
        sink, "vec_id", "embedding", threshold = 0.99,
        indexTable = table, checkpointDir = cp)
    }
    runIndexed(s"$tmp/cp1")
    val corpus = spark.read.parquet(sink)
    val n1 = corpus.count()
    assert(n1 > 0)
    assert(corpus.filter(col("vec_id") >= 1000000L).isEmpty,
      "scaled duplicates of corpus vectors must be rejected at the door")
    spark.catalog.refreshTable(s"${table}_docs")
    val idxIds = spark.table(s"${table}_docs")
      .select("id").as[Long].collect().sorted.toSeq
    assert(idxIds == corpus.select("vec_id").as[Long].collect().sorted.toSeq,
      "index _docs must mirror the sink ids")
    // full re-delivery: fresh checkpoint + fresh index reconverge
    runIndexed(s"$tmp/cp2")
    assert(spark.read.parquet(sink).count() == n1,
      "re-delivered batches must not append semantic duplicates")
  }

  test("semantic ingest loop: merge fills the frozen quantizer, drift audit fires on a shifted batch, rebuild recovers the missed near-dup") {
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift-loop")
    val sink = s"$tmp/corpus"
    val table = "t_drift_loop_spec"
    def vecs(rows: (Long, Array[Float])*) =
      rows.toSeq.toDF("vec_id", "embedding")
    // standing corpus: two clusters along e1 and e2; index anchors = the
    // cluster directions, nassign=1 (routing boundary at the bisector)
    val corpus0 = vecs(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0.9f, 0.43f, 0f, 0f),
      10L -> Array(0f, 1f, 0f, 0f), 11L -> Array(0.43f, 0.9f, 0f, 0f))
    val anchors = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)))
      .toDF("cell", "centroid")
    corpus0.write.parquet(sink)
    Dedup.writeSemanticIvfIndex(corpus0, "vec_id", "embedding", anchors,
      table, nassign = 1)
    // batch 0: drawn from the index's own distribution — audited against
    // the index anchors themselves, zero assignment shift, no recluster
    val b0 = vecs(2L -> Array(0.95f, 0.2f, 0f, 0f),
      12L -> Array(0.2f, 0.95f, 0f, 0f))
    val d0 = Dedup.semanticIvfIndexDrift(b0, "vec_id", "embedding", table,
      shiftFloorPpm = 200000L, freshCentroids = Some(anchors)).head()
    assert(!d0.getAs[Boolean]("recluster_recommended"),
      "a same-distribution batch must not trigger re-clustering")
    graft.streaming.Streams.semanticIngestBatchIndexed(
      b0, sink, "vec_id", "embedding", threshold = 0.99,
      indexTable = table, nassign = 1)
    // batch 1: a DRIFTED cluster around the (-1,-1) direction that the
    // frozen 2-cell quantizer splits across both stale cells (angles
    // spread > 8.1° so nothing self-near-dups at τ=0.99); u1 = (-1,-.93)
    // sits just on the e2 side of the bisector
    val b1 = vecs(
      20L -> Array(-1f, -0.2f, 0f, 0f), 21L -> Array(-1f, -0.5f, 0f, 0f),
      22L -> Array(-1f, -0.93f, 0f, 0f),
      23L -> Array(-0.5f, -1f, 0f, 0f), 24L -> Array(-0.2f, -1f, 0f, 0f))
    // drift audit: one fresh centroid captures the whole drifted cloud;
    // the stale quantizer splits that cloud 3/2 across its cells, so the
    // assignment-shift share is 2/5 = 40% > the 20% floor
    val freshDrift = Seq((0L, Array(-1.0, -0.999, 0.0, 0.0)))
      .toDF("cell", "centroid")
    val d1 = Dedup.semanticIvfIndexDrift(b1, "vec_id", "embedding", table,
      shiftFloorPpm = 200000L, freshCentroids = Some(freshDrift)).head()
    assert(d1.getAs[Boolean]("recluster_recommended"),
      "the shifted batch must recommend re-clustering")
    // production keeps ingesting through the frozen quantizer while the
    // rebuild is scheduled — merge the drifted batch in
    graft.streaming.Streams.semanticIngestBatchIndexed(
      b1, sink, "vec_id", "embedding", threshold = 0.99,
      indexTable = table, nassign = 1)
    assert(spark.read.parquet(sink).count() == 11,
      "all drifted vectors are novel and must ingest")
    // the cost of probing on: u2 = (-0.93,-1) near-dups u1 (cosine .9974)
    // but routes to the OTHER stale cell — the frozen quantizer misses it
    val probe = vecs(99L -> Array(-0.93f, -1f, 0f, 0f))
    val pre = Dedup.semanticNearDupsIvfAgainstIndex(probe, "vec_id",
      "embedding", threshold = 0.99, table, nassign = 1)
    assert(pre.isEmpty,
      "the stale quantizer must miss the boundary-straddling near-dup " +
        "(that miss is what the drift audit exists to catch)")
    // rebuild with drift-aware centroids over the CURRENT corpus (what
    // the audit told us to do), then the probe recovers the near-dup
    val anchors2 = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(-1.0, -1.0, 0.0, 0.0)))
      .toDF("cell", "centroid")
    Dedup.writeSemanticIvfIndex(spark.read.parquet(sink), "vec_id",
      "embedding", anchors2, table, nassign = 1)
    val post = Dedup.semanticNearDupsIvfAgainstIndex(probe, "vec_id",
      "embedding", threshold = 0.99, table, nassign = 1)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(post == Set((99L, 22L)),
      s"post-rebuild probe must recover exactly the drifted near-dup, got $post")
  }

  test("indexed door auto-compaction: policy fires inside the ingest loop, sink and index content identical, file debt bounded") {
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-autocpt")
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = ShingleFunctions.wordShingleHashes(
      TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    val batches = (0 to 3).map(m => docs.filter(col("doc_id") % 4 === m))
    def cleanup(t: String): Unit =
      Seq("_docs", "_bands", "_meta", "_docs_cstg", "_bands_cstg")
        .foreach(s => graft.sources.Sinks.dropTableAndLocation(spark, t + s))
    // twin A: the door with no compaction policy — accretes one file
    // generation per touched bucket per batch, the unbounded-debt shape
    val tA = "t_door_nocpt_spec"; val sA = s"$tmp/a"
    cleanup(tA)
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, tA,
      numBuckets = 4)
    batches.foreach(b => graft.streaming.Streams.dedupIngestBatchIndexed(
      b, sA, "doc_id", sh, 0.5, cfg, tA))
    // twin B: identical batch sequence, auto-compaction at 6 data files —
    // crossed after the second batch, so the policy provably fires mid-run
    val tB = "t_door_autocpt_spec"; val sB = s"$tmp/b"
    cleanup(tB)
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, tB,
      numBuckets = 4)
    batches.foreach(b => graft.streaming.Streams.dedupIngestBatchIndexed(
      b, sB, "doc_id", sh, 0.5, cfg, tB, autoCompactMaxFiles = 6))
    // compaction is IO-only: the doors land the identical corpus and the
    // identical index CONTENT
    val idsA = spark.read.parquet(sA).select("doc_id").as[Long]
      .collect().sorted.toSeq
    val idsB = spark.read.parquet(sB).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(idsA == idsB, "auto-compaction changed the door's sink")
    assert(spark.table(s"${tB}_docs").select("id").as[Long].collect().sorted
      .toSeq == idsB, "compacted index _docs must still mirror the sink")
    // probes through both indexes are bit-identical
    val probeBatch = docs.filter(col("doc_id") % 10 === 0)
    val pA = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
      0.5, tA, cfg).collect().map(_.toSeq).toSet
    val pB = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
      0.5, tB, cfg).collect().map(_.toSeq).toSet
    assert(pA == pB, "probe diverged across the auto-compacted index")
    // and the policy actually fired: B's file debt is bounded at one
    // compacted generation plus at most one trailing append, strictly
    // below A's accreted generations
    val filesA = graft.sources.Sinks.tableDataFileCount(spark, s"${tA}_bands")
    val filesB = graft.sources.Sinks.tableDataFileCount(spark, s"${tB}_bands")
    assert(filesB < filesA,
      s"auto-compaction never fired: _bands has $filesB files vs the " +
        s"no-policy twin's $filesA")
    assert(filesB <= 8,
      s"auto-compacted _bands should hold ≤ 2 generations over 4 buckets, " +
        s"got $filesB files")
    cleanup(tA); cleanup(tB)
  }

  test("door auto-compaction soak: 20 batches at threshold 6 — file debt plateaus, every probe bit-identical to the no-policy twin") {
    // the round-13 twin-run proved ONE firing over 4 batches; this soak
    // proves the STEADY STATE: over 20 batches the policy fires on a
    // cadence and the file count never exceeds threshold + one batch's
    // churn (numBuckets new files), i.e. debt is bounded by policy, not
    // by run length — the property that makes a door safe to leave
    // running. Probes are checked after EVERY batch against a no-policy
    // twin, so any compaction that changed content fails at the batch
    // that broke it, not at the end.
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-soak")
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = ShingleFunctions.wordShingleHashes(
      TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    val numBuckets = 4
    val maxFiles = 6
    val batches = (0 to 19).map(m => docs.filter(col("doc_id") % 20 === m))
    val probeBatch = docs.filter(col("doc_id") % 10 === 0)
    def cleanup(t: String): Unit =
      Seq("_docs", "_bands", "_meta", "_docs_cstg", "_bands_cstg")
        .foreach(s => graft.sources.Sinks.dropTableAndLocation(spark, t + s))
    val (tN, sN) = ("t_door_soak_nopol", s"$tmp/n")
    val (tP, sP) = ("t_door_soak_pol", s"$tmp/p")
    Seq(tN, tP).foreach { t => cleanup(t)
      Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, t,
        numBuckets = numBuckets) }
    var fires = 0
    var maxSeen = 0
    import spark.implicits._
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.Streams.dedupIngestBatchIndexed(
        b, sN, "doc_id", sh, 0.5, cfg, tN)
      val before = graft.sources.Sinks.tableDataFileCount(spark, s"${tP}_bands")
      val docsBefore = spark.table(s"${tP}_docs").count()
      graft.streaming.Streams.dedupIngestBatchIndexed(
        b, sP, "doc_id", sh, 0.5, cfg, tP, autoCompactMaxFiles = maxFiles)
      val after = graft.sources.Sinks.tableDataFileCount(spark, s"${tP}_bands")
      val novel = spark.table(s"${tP}_docs").count() - docsBefore
      // a compaction inside the door lands the file count back AT the
      // compacted baseline, so "appended novel rows yet the count did not
      // grow" is the firing signature (an append alone strictly grows it)
      if (novel > 0 && after <= before) fires += 1
      maxSeen = math.max(maxSeen, after)
      // plateau bound at every step: one compacted generation (numBuckets
      // files) + at most (maxFiles - numBuckets) appended generations + the
      // batch that tripped the policy — never run-length-dependent
      assert(after <= maxFiles + numBuckets,
        s"batch $i: _bands holds $after files > bound ${maxFiles + numBuckets}" +
          " — the policy is not holding the plateau")
      val pN = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
        0.5, tN, cfg).collect().map(_.toSeq).toSet
      val pP = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
        0.5, tP, cfg).collect().map(_.toSeq).toSet
      assert(pN == pP, s"batch $i: probe diverged across auto-compaction")
    }
    assert(fires >= 3,
      s"soak expected a steady compaction cadence over 20 batches, got " +
        s"$fires firings (maxSeen=$maxSeen)")
    import spark.implicits._
    val idsN = spark.read.parquet(sN).select("doc_id").as[Long]
      .collect().sorted.toSeq
    val idsP = spark.read.parquet(sP).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(idsN == idsP, "soak: sinks diverged")
    info(s"soak cadence: $fires compactions / 20 batches, max _bands " +
      s"files $maxSeen (bound ${maxFiles + numBuckets})")
    cleanup(tN); cleanup(tP)
  }

  test("dangling compaction swap heals at door entry: a simulated drop→RENAME crash no longer wedges the next batch") {
    // the round-13 advice's liveness window: compactBucketed crashes
    // between dropTableAndLocation(table) and the RENAME — the complete
    // copy sits at <table>_cstg, but the NEXT door batch reads
    // spark.table(index_docs) before any self-healing code used to run.
    // Simulate the exact crash state for _docs (the door's FIRST index
    // read), then drive a real batch through the door: it must heal,
    // complete, and land the same sink/index as an uncrashed twin.
    import graft.functions.{ShingleFunctions, TextFunctions}
    import graft.operators.Dedup
    import graft.sources.Sinks
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-door-heal")
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = ShingleFunctions.wordShingleHashes(
      TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    def cleanup(t: String): Unit =
      Seq("_docs", "_bands", "_meta", "_docs_cstg", "_bands_cstg")
        .foreach(s => Sinks.dropTableAndLocation(spark, t + s))
    val b1 = docs.filter(col("doc_id") % 4 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 1)
    // twin: uninterrupted two-batch run
    val (tT, sT) = ("t_heal_twin", s"$tmp/t")
    cleanup(tT)
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, tT, numBuckets = 4)
    Seq(b1, b2).foreach(b => graft.streaming.Streams.dedupIngestBatchIndexed(
      b, sT, "doc_id", sh, 0.5, cfg, tT))
    // crashed run: batch 1, then the exact compactBucketed crash state on
    // _docs (staging holds the complete compacted copy; name + location
    // dropped), then batch 2 through the door
    val (tC, sC) = ("t_heal_crash", s"$tmp/c")
    cleanup(tC)
    Dedup.writeMinHashIndex(docs.limit(0), "doc_id", sh, cfg, tC, numBuckets = 4)
    graft.streaming.Streams.dedupIngestBatchIndexed(
      b1, sC, "doc_id", sh, 0.5, cfg, tC)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    s2.table(s"${tC}_docs").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(4, "id").sortBy("id").format("parquet")
      .saveAsTable(s"${tC}_docs_cstg")
    Sinks.dropTableAndLocation(spark, s"${tC}_docs")
    assert(!spark.catalog.tableExists(s"${tC}_docs") &&
      spark.catalog.tableExists(s"${tC}_docs_cstg"),
      "crash-state setup failed")
    // the door batch must heal at entry instead of throwing TABLE_NOT_FOUND
    graft.streaming.Streams.dedupIngestBatchIndexed(
      b2, sC, "doc_id", sh, 0.5, cfg, tC)
    assert(spark.catalog.tableExists(s"${tC}_docs") &&
      !spark.catalog.tableExists(s"${tC}_docs_cstg"),
      "door entry did not finish the dangling swap")
    val idsT = spark.read.parquet(sT).select("doc_id").as[Long]
      .collect().sorted.toSeq
    val idsC = spark.read.parquet(sC).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(idsT == idsC, "healed run's sink diverged from the twin")
    assert(spark.table(s"${tC}_docs").select("id").as[Long].collect().sorted
      .toSeq == spark.table(s"${tT}_docs").select("id").as[Long].collect()
      .sorted.toSeq, "healed run's index diverged from the twin")
    // probe-entry heal covers the non-door callers too: re-create the
    // crash state and probe directly
    s2.table(s"${tC}_bands").write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(4, "band", "bandHash").sortBy("band", "bandHash")
      .format("parquet").saveAsTable(s"${tC}_bands_cstg")
    Sinks.dropTableAndLocation(spark, s"${tC}_bands")
    val probeBatch = docs.filter(col("doc_id") % 10 === 0)
    val pC = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
      0.5, tC, cfg).collect().map(_.toSeq).toSet
    val pT = Dedup.minHashNearDupsAgainstIndex(probeBatch, "doc_id", sh,
      0.5, tT, cfg).collect().map(_.toSeq).toSet
    assert(pC == pT, "probe through the healed index diverged")
    // intact tables are left alone
    assert(!Sinks.healDanglingCompaction(spark, s"${tC}_docs"),
      "heal must be a no-op on an intact table")
    cleanup(tT); cleanup(tC)
  }
}
