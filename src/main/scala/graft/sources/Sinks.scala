package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** Write-side operators (SURVEY.md §2.1 W rows) against Parquet-backed
  * tables — the file-backed engine's rendition of the reference's Postgres
  * sinks.
  */
object Sinks {

  /** W1/W2 — idempotent keyed append (INSERT … ON CONFLICT DO NOTHING,
    * reference dags/evidence_images_processing.py:153-179): dedupe the
    * batch, anti-join against the existing sink's keys, append only new
    * rows. The sink-side scan is pruned to the key columns by Catalyst;
    * at 100 TB, bound the sink side further with the incremental-window
    * predicate (`sinkFilter`), mirroring the reference's 15-day lookback.
    */
  def idempotentAppend(
      spark: SparkSession, batch: DataFrame, path: String, keys: Seq[String],
      sinkFilter: Option[org.apache.spark.sql.Column] = None): Long = {
    // Existence is checked explicitly — catching read errors here would
    // turn a transient I/O failure into "sink is empty" and append
    // duplicates, silently breaking the exactly-once guarantee that
    // Streams.streamIdempotentAppend builds on this method.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newRows = (if (!fs.exists(p)) batch.dropDuplicates(keys)
    else {
      val sink0 = spark.read.parquet(path)
      val sink = sinkFilter.map(sink0.filter).getOrElse(sink0)
      Pipeline.idempotentNewRows(batch, sink, keys)
      // materialize once: counting and then writing would otherwise run the
      // dedupe + anti-join twice
    }).localCheckpoint(true)
    val n = newRows.count()
    if (n > 0) newRows.write.mode(SaveMode.Append).parquet(path)
    n
  }

  /** W3 — keyed UPDATE writeback. Spark has no in-place update: derived
    * columns are recomputed declaratively and the table rewritten — one
    * scan + one write instead of the reference's SELECT-all → Python loop →
    * row-at-a-time executemany UPDATE (dags/evidence_images_processing
    * .py:230-289).
    */
  def overwriteWithDerived(
      spark: SparkSession, path: String,
      derive: DataFrame => DataFrame): Unit = {
    val out = derive(spark.read.parquet(path))
    // Parquet overwrite of the source path requires materializing first.
    val tmp = path.stripSuffix("/") + "__rewrite"
    val old = path.stripSuffix("/") + "__old"
    out.write.mode(SaveMode.Overwrite).parquet(tmp)
    val target = new org.apache.hadoop.fs.Path(path)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val oldPath = new org.apache.hadoop.fs.Path(old)
    // the PATH's filesystem, not the default one (path may be s3a:// etc.)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Swap via rename-aside, not delete-then-rename: a crash between the
    // two renames leaves the previous table recoverable at `path__old`
    // (same filesystem, same prefix), and the no-table window shrinks to
    // the instant between the renames.
    fs.delete(oldPath, true) // clear any leftover from a prior crash
    if (!fs.rename(target, oldPath))
      throw new java.io.IOException(s"failed to move $path aside to $old")
    if (!fs.rename(tmpPath, target)) {
      // best-effort rollback so readers still see the previous table
      fs.rename(oldPath, target)
      throw new java.io.IOException(
        s"failed to move rewritten table into place: $tmp -> $path " +
          "(previous table restored; rewritten data intact at the tmp path)")
    }
    fs.delete(oldPath, true)
  }

  /** Write with a same-pass audit: aggregate metrics attached to the plan
    * via `Dataset.observe` are computed WHILE the rows stream to the sink —
    * row counts, null counts, violation counts with zero extra scans,
    * where a separate `df.agg(...)` audit would re-execute the whole
    * upstream pipeline. At 100 TB the second scan is the difference
    * between "audited write" and "write twice". Metric expressions must be
    * aggregates Spark can fold per task and merge (count/sum/min/max —
    * the same partial/final discipline as any agg).
    *
    * Returns the observed metrics keyed by the names in `metrics`.
    */
  def writeWithAudit(df: DataFrame, path: String,
                     metrics: Map[String, org.apache.spark.sql.Column]): Map[String, Any] = {
    require(metrics.nonEmpty, "writeWithAudit needs at least one metric")
    val obs = org.apache.spark.sql.Observation()
    val named = metrics.toSeq.sortBy(_._1).map { case (n, c) => c.as(n) }
    df.observe(obs, named.head, named.tail: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
    obs.get
  }

  /** Small-file compaction: rewrite a parquet table into
    * ceil(totalBytes / targetBytes) evenly-sized files. Micro-batch sinks
    * ([[graft.streaming.Streams.streamIdempotentAppend]]) accrete one file
    * per trigger; at 100 TB a table fragmented into millions of tiny files
    * pays listing, open and tiny-row-group costs on every read, so
    * compaction is a standing maintenance operation, not a nicety. Uses
    * `repartition(n)` (round-robin shuffle) rather than `coalesce(n)` so
    * output files are evenly sized no matter how skewed the input files
    * are, and the same rename-aside atomic swap as [[overwriteWithDerived]]
    * so readers never observe a missing table and a crash leaves the
    * previous table recoverable at `path__old`.
    *
    * The driver-side directory listing is the operator's essential job
    * (compaction IS a file-metadata decision) and is bounded by one
    * table's file count. Already-compact tables (file count ≤ target) are
    * left untouched. Returns (filesBefore, filesAfter).
    */
  def compactFiles(spark: SparkSession, path: String,
                   targetBytes: Long = 128L << 20): (Int, Int) = {
    require(targetBytes >= 1L, s"targetBytes=$targetBytes must be >= 1")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val before = dataFiles()
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (before.length <= nOut) (before.length, before.length)
    else {
      overwriteWithDerived(spark, path, _.repartition(nOut))
      (before.length, dataFiles().length)
    }
  }

  /** Partitioned write — the layout that makes S1-style pruning free for
    * downstream readers (`year/month/day` paths in the reference's store).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed + sorted table write: co-locates join keys so equi-joins
    * between tables bucketed the same way need NO shuffle exchange — the
    * 100 TB answer to repeated fact⋈fact joins on the same key.
    */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCols: Seq[String], numBuckets: Int): Unit =
    saveBucketed(df, SaveMode.Overwrite, table, bucketCols, numBuckets)

  /** The one bucketed + sorted parquet table write behind
    * [[writeBucketed]], [[appendBucketed]] and [[compactBucketed]]:
    * bucketed and sorted on the same columns. */
  private def saveBucketed(df: DataFrame, mode: SaveMode, table: String,
                           bucketCols: Seq[String], numBuckets: Int): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** A table name as a backtick-quoted SQL identifier — every DDL string
    * here goes through it, so a backtick in a name cannot inject. */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"

  private def renameTable(spark: SparkSession, from: String, to: String): Unit = {
    spark.sql(s"ALTER TABLE ${quoted(from)} RENAME TO ${quoted(to)}")
    ()
  }

  /** Append a delta to an EXISTING bucketed table with the identical
    * bucket spec — the incremental-maintenance half of [[writeBucketed]].
    * Spark hashes the delta rows into the same bucket files' id space, so
    * downstream bucketed equi-joins stay exchange-free after the append;
    * only the (small) delta is shuffled, never the standing table. At
    * 100 TB this is what keeps index maintenance O(batch): a rebuild
    * rewrites the corpus, an append writes one batch.
    *
    * Existence is a PRECONDITION, not a convenience: `SaveMode.Append`'s
    * saveAsTable would happily CREATE a missing table, and that default
    * interacts fatally with [[compactBucketed]]'s crash window — a
    * compaction that died between its drop and its RENAME leaves the name
    * dangling with the only complete copy parked at `&lt;table&gt;_cstg`;
    * an append that auto-creates would silently resurrect the name
    * holding ONLY the delta rows (every probe then misses the whole
    * corpus), and the next compaction would see the name occupied and
    * drop `_cstg` — the corpus — permanently. So: if the name dangles
    * with a complete staging copy present, finish the interrupted swap
    * first ([[healDanglingCompaction]], the same self-heal as
    * [[compactBucketed]]'s entry), and if neither exists, refuse —
    * appends never create.
    */
  def appendBucketed(df: DataFrame, table: String,
                     bucketCols: Seq[String], numBuckets: Int): Unit = {
    val spark = df.sparkSession
    require(healDanglingCompaction(spark, table) ||
      spark.catalog.tableExists(table),
      s"appendBucketed: table `$table` does not exist — appends never " +
        "create (build it with writeBucketed first)")
    saveBucketed(df, SaveMode.Append, table, bucketCols, numBuckets)
  }

  /** Finish a [[compactBucketed]] swap that crashed between its DROP and
    * its RENAME: the table name dangles while the complete compacted copy
    * sits at `&lt;table&gt;_cstg`. [[compactBucketed]] and [[appendBucketed]]
    * call this at their own entry — but a PROBE that
    * reads the table first (`spark.table(...)` inside a streaming door's
    * batch body) would throw TABLE_NOT_FOUND before ever reaching them,
    * wedging a long-running ingest on a state that is one metadata rename
    * from healthy (content was never at risk; LIVENESS was). Callers that
    * read index tables before appending (door batch entry, the
    * `*AgainstIndex` probes, the `maybeCompact*` policies) call this
    * first. A missing name with NO staging copy is left alone — that is
    * a genuinely absent table and the caller's own error path owns it.
    * Returns true iff a dangling swap was finished.
    */
  def healDanglingCompaction(spark: SparkSession, table: String): Boolean = {
    val stg = table + "_cstg"
    val dangling = !spark.catalog.tableExists(table) &&
      spark.catalog.tableExists(stg)
    if (dangling) renameTable(spark, stg, table)
    dangling
  }

  /** Compact a bucketed table back to ONE file per bucket, ZERO-shuffle.
    * Every [[appendBucketed]] leaves one more file per touched bucket
    * (Spark writes bucket files per task), so a long append history
    * degrades scan/open costs even though the bucketing METADATA stays
    * correct; compaction is the third piece of the maintenance story
    * (append often, compact occasionally). The rewrite forces a TRUE
    * bucketed scan (`autoBucketedScan` off for this read — otherwise
    * Spark plans a plain file-split scan whose partitions mix buckets,
    * while a same-spec repartition on top is elided as redundant
    * against the table's logical bucketing, so files would NOT
    * coalesce; measured, not theorized), giving exactly one partition
    * per bucket with no exchange anywhere — each task rewrites its
    * bucket's file set as one file. The result lands in a staging
    * table and takes the original's name via a catalog RENAME (never
    * read-and-overwrite-in-place, which Spark refuses and which would
    * lose the table on a mid-write crash). The CONTENT is safe at every
    * instant — a complete copy exists under the original name or under
    * `&lt;table&gt;_cstg` — but there is a window between the original's
    * drop and the RENAME where the NAME dangles; entry detects exactly
    * that state (table missing, complete staging present) and recovers
    * by renaming the staging copy into place before doing anything
    * else, so a crashed compaction self-heals on the next call instead
    * of requiring manual rescue (or worse: the old entry logic would
    * have dropped the staging table — the only copy — as stale).
    * Content, bucket spec and in-bucket sort order are unchanged —
    * only the file layout.
    */
  def compactBucketed(spark: SparkSession, table: String,
                      bucketCols: Seq[String], numBuckets: Int): Unit = {
    // crash window of a previous compaction (original dropped, RENAME
    // not reached): the staging table IS the compacted result — finishing
    // the swap is the whole job
    if (healDanglingCompaction(spark, table)) return
    require(spark.catalog.tableExists(table),
      s"compactBucketed: neither `$table` nor its staging copy exists")
    val stg = table + "_cstg"
    dropTableAndLocation(spark, stg)
    // The forced-true-bucketed-scan flag must not leak to concurrent
    // planners in the same session (bench reps and the per-table build
    // locks explicitly anticipate same-JVM concurrency), so the rewrite
    // runs in a CLONED session: same SparkContext, shared catalog and
    // warehouse, isolated SQLConf — the flag flip is invisible outside.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    saveBucketed(s2.table(table), SaveMode.Overwrite, stg, bucketCols,
      numBuckets)
    dropTableAndLocation(spark, table)
    renameTable(spark, stg, table)
  }

  /** W7 — notification (email) sink, file-backed: render each message row
    * as an RFC-822 text file in an OUTBOX directory (reference
    * dags/evidence_images_processing.py:291-296 — the EmailOperator firing
    * "MQ Data Processing Complete" after the pipeline; commented out there
    * too, which is why the outbox IS the engine's transport boundary: in a
    * deployment an MTA/relay drains the directory, and this sandbox has no
    * egress, the same boundary discipline as the multimodal decode stubs).
    *
    * `messages` must carry string columns (recipient, subject, body_html).
    * Notification frames are PARAMETER-sized (one row per configured
    * recipient/job, never per data row), so the render is a bounded
    * driver-side loop — `maxMessages` makes that contract explicit and
    * refuses a data-sized frame instead of silently collecting it.
    * Delivery is idempotent per (deterministic) message id: the file name
    * is the md5 of the rendered message, so retries and checkpoint
    * replays overwrite rather than duplicate — the W1 ON-CONFLICT
    * discipline at the notification boundary. Returns the written paths.
    */
  def writeOutbox(messages: DataFrame, outboxDir: String,
                  maxMessages: Int = 100): Seq[String] = {
    require(maxMessages >= 1, s"maxMessages=$maxMessages must be >= 1")
    val cols = Seq("recipient", "subject", "body_html")
    require(cols.forall(messages.columns.contains),
      s"writeOutbox needs columns $cols, got ${messages.columns.toSeq}")
    val rows = messages.select(cols.map(col): _*).limit(maxMessages + 1)
      .collect()
    require(rows.length <= maxMessages,
      s"writeOutbox: more than $maxMessages messages — a notification " +
        "frame is parameter-sized by contract; aggregate before notifying")
    // outbox lives wherever its path says — resolved through the path's
    // own Hadoop FileSystem (the streaming doors' discipline), never
    // java.io.File: an object-store outbox drained by a remote MTA is
    // the deployment shape, and this is a parameter-sized metadata+write
    // loop either way
    val dirPath = new org.apache.hadoop.fs.Path(outboxDir)
    val fs = dirPath.getFileSystem(
      messages.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dirPath)
    rows.toSeq.map { r =>
      val (to, subject, body) = (r.getString(0), r.getString(1), r.getString(2))
      require(to != null && subject != null && body != null,
        "writeOutbox: null recipient/subject/body")
      // CRLF line endings per RFC 822; headers are sanitized against
      // injection (a newline inside recipient/subject would smuggle headers)
      def clean(s: String) = s.replaceAll("[\r\n]+", " ")
      val msg = s"To: ${clean(to)}\r\n" +
        s"Subject: ${clean(subject)}\r\n" +
        "MIME-Version: 1.0\r\n" +
        "Content-Type: text/html; charset=utf-8\r\n" +
        s"\r\n$body\r\n"
      val id = java.security.MessageDigest.getInstance("MD5")
        .digest(msg.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val f = new org.apache.hadoop.fs.Path(dirPath, s"$id.eml")
      // idempotent per message id: same content ⇒ same name ⇒ overwrite
      val out = fs.create(f, true)
      try out.write(msg.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(f).toString
    }
  }

  /** W6 — table lifecycle DDL against the session catalog. Identifiers are
    * backtick-quoted and the location escaped — raw interpolation would let
    * a quote in a path (or a crafted name) inject into the DDL.
    */
  def createTableIfNotExists(spark: SparkSession, name: String, path: String): Unit = {
    val qPath = path.replace("'", "\\'")
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS ${quoted(name)} USING parquet LOCATION '$qPath'")
  }

  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS ${quoted(name)}")

  /** Drop a managed table AND its warehouse location. The default
    * in-memory catalog dies with the session while the warehouse
    * directory persists, so a NEW session's `saveAsTable` fails with
    * LOCATION_ALREADY_EXISTS on a name a previous session wrote — the
    * catalog drop alone cannot see the orphan. Callers that rebuild
    * managed tables across sessions (the persisted dedup index) clear
    * both. Uses the Hadoop filesystem of the warehouse path, so it works
    * on any storage the warehouse lives on.
    */
  def dropTableAndLocation(spark: SparkSession, name: String): Unit = {
    // When the catalog still knows the table, trust ITS location and table
    // type — a table in a non-default database or an EXTERNAL table does
    // not live at <warehouse>/<lowercased-name>, and deleting that derived
    // path could remove an unrelated directory. External locations are
    // user data: drop the entry, never the files.
    val catalogLoc: Option[org.apache.hadoop.fs.Path] =
      if (spark.catalog.tableExists(name)) {
        val desc = spark.sql(s"DESCRIBE TABLE EXTENDED ${quoted(name)}")
          .select("col_name", "data_type").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        val managed = desc.get("Type").exists(_.equalsIgnoreCase("MANAGED"))
        if (managed) desc.get("Location").map(new org.apache.hadoop.fs.Path(_))
        else None
      } else {
        // true orphan: catalog lost the entry (new session, in-memory
        // catalog) but the managed default-db layout may still hold files
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        Some(new org.apache.hadoop.fs.Path(wh, name.toLowerCase))
      }
    dropTable(spark, name)
    catalogLoc.foreach { loc =>
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
  }

  /** Count a managed table's parquet data files — the observable that
    * drives compaction POLICY (each [[appendBucketed]] leaves one more
    * file generation per touched bucket, so file count is the direct
    * measure of layout debt). Location is resolved through the catalog
    * (the [[dropTableAndLocation]] discipline — never a derived
    * warehouse path) and listed recursively via the location's own
    * Hadoop filesystem, so the count is one bounded metadata listing on
    * any store. */
  def tableDataFileCount(spark: SparkSession, table: String): Int = {
    val desc = spark.sql(s"DESCRIBE TABLE EXTENDED ${quoted(table)}")
      .select("col_name", "data_type").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val loc = new org.apache.hadoop.fs.Path(desc.getOrElse("Location",
      sys.error(s"tableDataFileCount: no Location for table `$table`")))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) 0
    else {
      val it = fs.listFiles(loc, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** Cheap content fingerprint of a DataFrame for build-once guards:
    * `(count, XOR of xxhash64(all columns), SUM of the same hashes in
    * DECIMAL(38,0))` — order-insensitive, one scan + one agg, no shuffle
    * beyond the partial-agg combine. XOR alone is blind to
    * even-multiplicity swaps ({A,A} → {B,B} keeps both count and XOR,
    * both folding to 0) and duplicate rows are the NORM in a dedup
    * framework's corpora, so the multiplicity-sensitive sum rides along;
    * DECIMAL(38,0) keeps it overflow-free (a Long SUM would trip the
    * ANSI overflow check — 38 digits absorb ~10^19 rows of 19-digit
    * hashes). Used as the signature input to [[ensureBuiltOnce]] so a
    * persisted index rebuilds exactly when its source rows (not just
    * their count) changed.
    */
  def contentSignature(df: DataFrame): String = {
    val r = df
      .select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("h").cast("decimal(38,0)")).as("s"))
      .collect().head
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) "0" else r.getDecimal(2).toBigInteger.toString
    s"n=${r.getLong(0)};x=$x;s=$s"
  }

  // per-table in-JVM construction locks for ensureBuiltOnce: two threads
  // constructing the same query concurrently (bench reps, plan sweeps)
  // must not interleave drop/rebuild of the same managed tables
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once guard for persisted managed-table artifacts (the dedup
    * indexes): runs `build` only when the marker table `&lt;table&gt;_marker`
    * is missing or carries a DIFFERENT signature, and writes the marker
    * AFTER a successful build so a partial build can never read as
    * complete. This keeps index construction out of the per-rep path —
    * before this guard, merely CONSTRUCTING an index-backed query (plan
    * digesting, every bench rep) dropped and rewrote the shared warehouse
    * tables. Same-JVM concurrent construction serializes on a per-table
    * lock; cross-JVM builders of the SAME table still race (document or
    * partition table names per writer — the registry derives them from
    * the data dir, so distinct dirs never collide).
    */
  def ensureBuiltOnce(spark: SparkSession, table: String, signature: String,
                      expectedSuffixes: Seq[String] = Nil)
                     (build: => Unit): Unit = {
    val lock = buildLocks.computeIfAbsent(table, _ => new Object)
    lock.synchronized {
      val marker = s"${table}_marker"
      val current: Option[String] =
        if (!spark.catalog.tableExists(marker)) None
        else scala.util.Try(spark.table(marker).collect())
          .toOption.filter(_.length == 1).map(_.head.getString(0))
      // a matching marker is only trustworthy while the index tables it
      // vouches for still exist: dropped out-of-band (cleanup script,
      // warehouse wipe under a persistent metastore) with the marker
      // surviving, a signature match would skip the build forever and
      // every probe would fail on a missing table
      val targetsPresent = expectedSuffixes
        .forall(sfx => spark.catalog.tableExists(table + sfx))
      if (!current.contains(signature) || !targetsPresent) {
        dropTableAndLocation(spark, marker)
        build
        import spark.implicits._
        Seq(signature).toDF("signature")
          .write.mode(SaveMode.Overwrite).format("parquet")
          .saveAsTable(marker)
      }
    }
  }
}
