package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions, TextFunctions, VectorFunctions}

/** Deduplication operators for large-scale corpus curation — the north-star
  * extension surface (exact, fingerprint, MinHash-LSH, SimHash,
  * embedding-cosine). Designed shuffle-first: every candidate-generation
  * step is a hash-partitioned join on a small key (band hash / chunk), never
  * an all-pairs product; exact verification runs only on candidates.
  *
  * Techniques are the published standards: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997),
  * LSH banding (Indyk &amp; Motwani 1998; banding analysis as in Mining of
  * Massive Datasets ch. 3), SimHash (Charikar, STOC 2002) with the
  * pigeonhole chunk search of Manku et al. (WWW 2007).
  */
object Dedup {

  /** Exact dedup: canonical (minimum) id per identical content value, with
    * multiplicity. One hash-aggregate shuffle on the content column; at
    * scale, substitute the content by its fingerprint first so the shuffle
    * key is 32 bytes instead of document bytes.
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Content fingerprint (sha256 hex) — the join/shuffle proxy for exact
    * dedup at 100 TB (shuffle 64-byte hex keys, not documents).
    */
  def withFingerprint(df: DataFrame, contentCol: String, out: String = "fingerprint"): DataFrame =
    df.withColumn(out, sha2(col(contentCol), 256))

  /** LSH parameters. `bandRows = 1` gives near-certain candidate recall at
    * Jaccard ≥ 0.5 (miss probability (1−j)^numHashes), so verified output
    * equals brute force; raise `bandRows` at scale to trade recall for far
    * fewer candidates. `maxBucketSize` drops degenerate buckets (boilerplate
    * shingles) to bound the worst-case self-join — the [[dropOversized]]
    * skew guard.
    *
    * `estMargin` drives the cheap signature-estimate pre-filter between
    * candidate generation and exact verification: candidates whose
    * signature-agreement fraction (an unbiased Jaccard estimate, sd =
    * sqrt(j(1−j)/numHashes)) falls below `threshold − estMargin` are
    * dropped BEFORE the expensive shingle-array re-join. At 0.25 with 64+
    * hashes that bound sits ≥10σ above typical baseline similarity (junk
    * candidates all die) and ≥4σ below an exactly-at-threshold true pair
    * (miss add ≲3e-5). DISABLED by default (≥ 1): existing callers keep
    * the every-candidate-exactly-verified contract; opt in where narrow
    * bands make junk candidates dominate (e.g. char-gram configs).
    */
  final case class LshConfig(
      numHashes: Int = 64,
      bandRows: Int = 1,
      seed: Long = 42L,
      maxBucketSize: Long = 100000L,
      estMargin: Double = 1.0) {
    require(bandRows >= 1 && bandRows <= numHashes,
      s"bandRows=$bandRows must be in [1, numHashes=$numHashes]")
    require(numHashes % bandRows == 0,
      s"numHashes=$numHashes must divide evenly into bandRows=$bandRows bands " +
        "(leftover signature values would silently weaken recall)")
    require(estMargin >= 0, s"estMargin=$estMargin must be >= 0")
  }

  /** Skew guard of every banded/cell pair operator: drop the rows of
    * `banded` whose bucket (`keys`) holds more than `max` rows, before the
    * bucket equi-join would square them. The policy, stated once:
    *
    *  - the count is a partial-aggregate groupBy and the drop a broadcast
    *    anti-join of the (rare) oversized keys — deliberately NOT a window
    *    count. A corpus-scale hot bucket must never cross an exchange: the
    *    partial aggregate ships one count per task and key, and the
    *    broadcast anti-join filters `banded` where it sits, whereas a
    *    window would co-locate each hot bucket on one task before the
    *    filter could drop it (the §2.5 straggler this guard exists to
    *    kill);
    *  - a probe guards its CORPUS side only, so batch rows never count
    *    toward a bucket's size: the corpus drives the join fan-out, and
    *    dropping its rows from a hot bucket kills every pair that bucket
    *    would have produced. Over a persisted index the groupBy key is the
    *    bucketing key, so even the count aggregates without a shuffle.
    *
    * SCALE.md's deployment configuration gives the sizing rule for `max`.
    */
  private def dropOversized(banded: DataFrame, keys: Seq[String],
                            max: Long): DataFrame = {
    val oversized = banded
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bucketSize"))
      .filter(col("bucketSize") > max)
      .select(keys.map(col): _*)
    banded.join(broadcast(oversized), keys, "left_anti")
  }

  /** Output names and id predicate of a pair operator: a self-join emits
    * each unordered pair once as (id_1, id_2) with id_1 < id_2; a probe
    * emits (id_new, id_corpus) for every pair of distinct ids.
    */
  private final case class PairShape(a: String, b: String,
                                     idPred: (Column, Column) => Column)
  private val selfPairs = PairShape("id_1", "id_2", _ < _)
  private val probePairs = PairShape("id_new", "id_corpus", _ =!= _)

  /** Distinct candidate pairs of LSH/IVF candidate generation: `left` ⋈
    * `right` on the bucket `keys` under the shape's id predicate — a
    * hash-partitionable equi-join, never an all-pairs product. The caller
    * guards ([[dropOversized]]) the side the policy counts.
    */
  private def candidatePairs(left: DataFrame, right: DataFrame,
                             keys: Seq[String], shape: PairShape): DataFrame =
    left.alias("l").join(right.alias("r"),
        keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) &&
        shape.idPred(col("l.id"), col("r.id")))
      .select(col("l.id").as(shape.a), col("r.id").as(shape.b))
      .distinct()

  /** An exact similarity over one payload column of the `(id, payload)`
    * frames a pair operator verifies against, and its output column. */
  private final case class Measure(payload: String, name: String,
                                   sim: (Column, Column) => Column)
  private val shingleJaccard = Measure("sh", "jaccard", TextFunctions.jaccard)
  private val vectorCosine = Measure("v", "cosine", VectorFunctions.cosine)

  /** Exact verify of candidate pairs: fetch each endpoint's payload by id
    * (`shape.a` from `left`, `shape.b` from `right` — the only id-keyed
    * joins), score with `m`, keep score ≥ `threshold`. Returns
    * (shape.a, shape.b, m.name).
    */
  private def verifyPairs(candidates: DataFrame, shape: PairShape,
                          left: DataFrame, right: DataFrame, m: Measure,
                          threshold: Double): DataFrame =
    candidates
      .join(left.select(col("id").as(shape.a), col(m.payload).as("p_1")), shape.a)
      .join(right.select(col("id").as(shape.b), col(m.payload).as("p_2")), shape.b)
      .withColumn(m.name, m.sim(col("p_1"), col("p_2")))
      .filter(col(m.name) >= threshold)
      .select(col(shape.a), col(shape.b), col(m.name))

  // bucket keys of the MinHash, hyperplane-LSH and IVF candidate joins
  private val bandKeys = Seq("band", "bandHash")
  private val sigKeys = Seq("band", "bandSig")
  private val cellKey = Seq("cell")

  /** `(id, sh)` rows of a MinHash input — the one base select of every
    * MinHash build, append and probe. Empty shingle sets never pair. */
  private def minHashBase(df: DataFrame, idCol: String,
                          shingles: Column): DataFrame =
    df.select(col(idCol).as("id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0)

  private def minHashSig(cfg: LshConfig): Column =
    HashFunctions.minhashSignature(col("sh"), cfg.numHashes, cfg.seed).as("sig")

  /** One side of a MinHash pair join: `(id, sh)` payload, `(id, sig)`
    * signatures and `(id, band, bandHash)` band rows. */
  private final case class MinHashSide(base: DataFrame, sigs: DataFrame,
                                       banded: DataFrame)

  /** The [[MinHashSide]] of an input frame. The signature frame is
    * consumed twice (banding, estimate pre-filter) and costs a full
    * shingle+hash pass over every document — materialize it once. It is
    * tiny relative to the corpus (numHashes longs per doc; at a trillion
    * docs you would persist it to disk instead).
    */
  private def minHashSide(df: DataFrame, idCol: String, shingles: Column,
                          cfg: LshConfig): MinHashSide = {
    val base = minHashBase(df, idCol, shingles)
    val sigs = base.select(col("id"), minHashSig(cfg)).localCheckpoint(true)
    MinHashSide(base, sigs, sigs.select(col("id"), bandHashes(cfg)))
  }

  /** `side` with its band rows behind the [[dropOversized]] guard. */
  private def guarded(side: MinHashSide, cfg: LshConfig): MinHashSide =
    side.copy(banded = dropOversized(side.banded, bandKeys, cfg.maxBucketSize))

  /** MinHash candidate generation → signature-estimate pre-filter → exact
    * Jaccard verify, `left` against the already-guarded `right`.
    *
    * The pre-filter (off unless `cfg.estMargin < 1`): candidate pairs at
    * baseline similarity (the overwhelming majority with narrow bands) die
    * against the compact numHashes-long signatures instead of dragging
    * full shingle arrays through the verify join — the arrays are
    * ~10-100x heavier per row.
    */
  private def minHashPairs(left: MinHashSide, right: MinHashSide,
                           shape: PairShape, threshold: Double,
                           cfg: LshConfig): DataFrame = {
    val candidates = candidatePairs(left.banded, right.banded, bandKeys, shape)
    val estFiltered =
      if (cfg.estMargin >= 1.0) candidates
      else candidates
        .join(left.sigs.select(col("id").as(shape.a), col("sig").as("sig_1")), shape.a)
        .join(right.sigs.select(col("id").as(shape.b), col("sig").as("sig_2")), shape.b)
        .withColumn("est",
          aggregate(
            zip_with(col("sig_1"), col("sig_2"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / cfg.numHashes)
        .filter(col("est") >= threshold - cfg.estMargin)
        .select(col(shape.a), col(shape.b))
    verifyPairs(estFiltered, shape, left.base, right.base, shingleJaccard,
      threshold)
  }

  /** Near-duplicate pairs by MinHash-LSH over a shingle-set column, verified
    * with exact Jaccard ≥ `threshold`. Returns (id_1, id_2, jaccard) with
    * id_1 < id_2.
    *
    * Plan shape (scale-first): signature (narrow, codegen) → band explode
    * (rows × bands) → [[dropOversized]] guard → shuffle on (band,
    * bandHash) via self-join → distinct candidate pairs → re-join the two
    * shingle sets → exact verify. The only wide ops are the band-key join
    * and the two id-keyed joins.
    */
  def minHashNearDups(
      df: DataFrame, idCol: String, shingles: Column,
      threshold: Double, cfg: LshConfig = LshConfig()): DataFrame = {
    // NO unconditional spread here (r15, measured): heavy-hash callers
    // (char-8 × 96 hashes) spread at the QUERY (see dedup_ngram), but the
    // streaming doors call this per micro-batch where an extra exchange
    // job costs more than the parallelism buys, and word-shingle callers
    // are not compute-bound (dedup_minhash read 0.83× with the spread).
    val side = guarded(minHashSide(df, idCol, shingles, cfg), cfg)
    minHashPairs(side, side, selfPairs, threshold, cfg)
  }

  /** Incremental near-dup check: probe a NEW batch against the existing
    * corpus without ever pairing the corpus with itself — the operation a
    * running 100 TB pipeline actually performs on every ingest. Join cost
    * is |newBatch| × bucket-mates, not |corpus|²; the corpus side's
    * signature/banding frames are exactly what a production deployment
    * would precompute once and persist alongside the corpus.
    *
    * Same algebra as [[minHashNearDups]] (banded signature equi-join →
    * signature-estimate pre-filter → exact-Jaccard verify), with the
    * [[dropOversized]] guard on the CORPUS side.
    *
    * Returns (id_new, id_corpus, jaccard), exact above `threshold` for
    * every pair the banding recalls (miss probability (1−t^r)^bands, same
    * as the symmetric operator).
    */
  def minHashNearDupsAgainst(
      corpus: DataFrame, newBatch: DataFrame, idCol: String,
      corpusShingles: Column, newShingles: Column,
      threshold: Double, cfg: LshConfig = LshConfig()): DataFrame = {
    val c = minHashSide(corpus, idCol, corpusShingles, cfg)
    val n = minHashSide(newBatch, idCol, newShingles, cfg)
    minHashPairs(n, guarded(c, cfg), probePairs, threshold, cfg)
  }

  /** Persist the reusable MinHash index for a standing corpus — the
    * production counterpart of [[minHashNearDupsAgainst]]'s in-plan corpus
    * legs, and the "(id, signature) frame IS the reusable index" leg of
    * SCALE.md. Three bucketed tables:
    *
    *  - `&lt;table&gt;_docs`  — (id, sh, sig), bucketed on `id`: the verify
    *    join's corpus side reads it exchange-free;
    *  - `&lt;table&gt;_bands` — (id, band, bandHash), bucketed AND sorted on
    *    (band, bandHash): the candidate probe join's corpus side — the
    *    data-sized leg of every incremental batch — reads it exchange-free
    *    (the new batch, typically orders of magnitude smaller, is the only
    *    side that shuffles);
    *  - `&lt;table&gt;_meta`  — one row of (num_hashes, band_rows, seed):
    *    probes REFUSE an index built under a different configuration
    *    instead of silently producing wrong candidates.
    *
    * Signatures are computed once: `_docs` is written first and `_bands`
    * derives from reading it back, so the shingle+hash pass over the
    * corpus runs exactly once per index build. Rebuild is overwrite-
    * idempotent; a deployment appends new batches to the index tables
    * after each [[minHashNearDupsAgainstIndex]] probe accepts them.
    */
  def writeMinHashIndex(
      corpus: DataFrame, idCol: String, shingles: Column,
      cfg: LshConfig, table: String, numBuckets: Int = 32): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // rebuilds must survive SESSION boundaries: a previous session's
    // managed-table directory outlives the in-memory catalog, and
    // saveAsTable refuses an orphaned location — clear both first
    Seq("_docs", "_bands", "_meta").foreach(s =>
      graft.sources.Sinks.dropTableAndLocation(spark, table + s))
    graft.sources.Sinks.writeBucketed(
      minHashBase(corpus, idCol, shingles)
        .select(col("id"), col("sh"), minHashSig(cfg)),
      s"${table}_docs", Seq("id"), numBuckets)
    graft.sources.Sinks.writeBucketed(
      spark.table(s"${table}_docs").select(col("id"), bandHashes(cfg)),
      s"${table}_bands", Seq("band", "bandHash"), numBuckets)
    Seq((cfg.numHashes, cfg.bandRows, cfg.seed, numBuckets))
      .toDF("num_hashes", "band_rows", "seed", "num_buckets")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_meta")
  }

  /** Band-hash generator over a `sig` column: one (band, bandHash) row
    * per LSH band, hashing the band's `bandRows` signature values
    * together. Every MinHash build, append and probe bands through this
    * one definition, so index rows and probe rows can never hash
    * differently.
    */
  private def bandHashes(cfg: LshConfig): Column =
    posexplode(
      transform(sequence(lit(0), lit(cfg.numHashes / cfg.bandRows - 1)),
        b => xxhash64(b, slice(col("sig"), b * cfg.bandRows + 1, lit(cfg.bandRows)))))
      .as(Seq("band", "bandHash"))

  /** Refuse to `verb` ("append" or "probe") a MinHash index built under a
    * different (numHashes, bandRows, seed) than `cfg`. */
  private def requireMinHashConfig(meta: org.apache.spark.sql.Row,
                                   table: String, cfg: LshConfig,
                                   verb: String): Unit = {
    val (mh, mr, ms) = (meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("band_rows"), meta.getAs[Long]("seed"))
    require(mh == cfg.numHashes && mr == cfg.bandRows && ms == cfg.seed,
      s"index $table was built with (numHashes=$mh, bandRows=$mr, seed=$ms)" +
        s" but the $verb supplied (${cfg.numHashes}, ${cfg.bandRows}, " +
        s"${cfg.seed}) — mixed-config indexes would corrupt every probe; " +
        "rebuild the index or match its configuration")
  }

  /** The bucketed sub-table a persisted index kind derives from `_docs`
    * (which is always bucketed on `id`), and that table's bucket keys.
    * The derived table carries the per-append file churn — one
    * generation per touched bucket per delta-append — so the compaction
    * policy counts its files.
    */
  private final case class IndexLayout(derived: String, keys: Seq[String])
  private val minHashLayout = IndexLayout("_bands", Seq("band", "bandHash"))
  private val semanticIvfLayout = IndexLayout("_cells", Seq("cell"))

  /** Delta-append (merge) into a persisted index — the one implementation
    * behind [[appendToMinHashIndex]] and [[appendToSemanticIvfIndex]].
    * `rows` is the id-keyed delta; `toDocs` turns its unseen rows into
    * `_docs` rows and `derive` turns those into the derived table's rows.
    * Both append to the standing bucketed tables under the IDENTICAL
    * bucket spec, so every probe after the merge still joins
    * exchange-free and is bit-identical to a probe against a full
    * rebuild over corpus ∪ delta.
    *
    * Idempotent on id (the W1 ON-CONFLICT discipline at the index
    * boundary): delta ids already present in `_docs` are anti-joined
    * away before writing, so replaying a batch — retries, at-least-once
    * upstream delivery — appends nothing. The anti-join reads only the
    * bucketed id column of the standing `_docs` table, whose bucketing
    * keeps that side exchange-free; only the (small) delta sorts and
    * shuffles, and one checkpointed delta pass feeds both appends.
    *
    * Write ORDER is the crash contract: the derived table first, `_docs`
    * LAST, so the `_docs` anti-join doubles as the commit record. A
    * crash between the two appends leaves derived rows whose ids are
    * absent from `_docs`; the replayed batch still sees those ids as
    * fresh, recomputes the identical rows, and completes both appends.
    * The replay duplicates the orphaned derived rows, which is harmless
    * by construction: every probe's candidate set is `.distinct()` and
    * verification inner-joins `_docs` (one row per id), so duplicate
    * derived rows can never duplicate or corrupt a result — the opposite
    * order would instead let the anti-join permanently hide docs whose
    * derived rows never landed.
    */
  private def appendToIndex(rows: DataFrame, table: String,
                            layout: IndexLayout, numBuckets: Int,
                            toDocs: DataFrame => DataFrame,
                            derive: DataFrame => DataFrame): Unit = {
    val docs = toDocs(rows.join(
        rows.sparkSession.table(s"${table}_docs").select("id"), Seq("id"),
        "left_anti"))
      .localCheckpoint(true)
    graft.sources.Sinks.appendBucketed(
      derive(docs), table + layout.derived, layout.keys, numBuckets)
    graft.sources.Sinks.appendBucketed(
      docs, s"${table}_docs", Seq("id"), numBuckets)
  }

  /** Delta-append (merge) into a PERSISTED MinHash index
    * ([[writeMinHashIndex]]) — the maintenance half of the index
    * lifecycle. A 100 TB corpus cannot rebuild its index per ingest
    * batch; this appends the batch's `_docs` and `_bands` rows through
    * [[appendToIndex]] (idempotent on id; `_bands` first, `_docs` last
    * as the commit record). DedupIndexSpec pins the rebuild equivalence
    * and the exchange-free probe after a merge; the
    * dedup_incremental_merge oracle gates the equivalence end-to-end.
    * Signatures/bands are computed from the delta frame directly (one
    * pass), never by re-reading the corpus.
    */
  def appendToMinHashIndex(
      delta: DataFrame, idCol: String, shingles: Column,
      table: String, cfg: LshConfig = LshConfig(),
      preReadMeta: Option[org.apache.spark.sql.Row] = None): Unit = {
    val meta = preReadMeta.getOrElse(minHashIndexMeta(delta.sparkSession, table))
    requireMinHashConfig(meta, table, cfg, "append")
    appendToIndex(minHashBase(delta, idCol, shingles), table, minHashLayout,
      // the bucket count travels with the index: an append under a
      // different count would silently break bucket-pruned joins
      meta.getAs[Int]("num_buckets"),
      _.select(col("id"), col("sh"), minHashSig(cfg)),
      _.select(col("id"), bandHashes(cfg)))
  }

  /** The full MinHash-index meta row, for callers that probe AND append
    * in one batch body and should pay the 1-row read once (r15).
    */
  private[graft] def minHashIndexMeta(spark: SparkSession,
                                      table: String): org.apache.spark.sql.Row =
    indexMeta(spark, table,
      Seq("num_hashes", "band_rows", "seed", "num_buckets"))

  /** Read a persisted index's one-row `_meta` table, refusing descriptively
    * when a required column is missing — an index persisted by an older
    * writer (e.g. pre-`num_buckets` format) would otherwise surface as an
    * opaque field-resolution error deep inside the append, compact or
    * probe path.
    */
  private def indexMeta(spark: SparkSession, table: String,
                        required: Seq[String]): org.apache.spark.sql.Row = {
    val df = spark.table(s"${table}_meta")
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"index $table predates the current _meta format (missing column(s) " +
        s"${missing.mkString(", ")}) — rebuild the index with the current " +
        "writer before appending to, compacting or probing it")
    val rows = df.collect()
    require(rows.length == 1, s"index $table has no meta row")
    rows.head
  }

  /** Compact a persisted index after many delta-appends: rewrites `_docs`
    * and the derived table back to one file per bucket
    * ([[graft.sources.Sinks.compactBucketed]]) WITHOUT recomputing a
    * single row — compaction is an IO-only layout fix, which is what
    * distinguishes it from a rebuild at 100 TB (a rebuild re-derives the
    * corpus; compaction just re-files it).
    */
  private def compactIndex(spark: SparkSession, table: String,
                           layout: IndexLayout): Unit = {
    val nb = indexMeta(spark, table, Seq("num_buckets")).getAs[Int]("num_buckets")
    graft.sources.Sinks.compactBucketed(spark, s"${table}_docs", Seq("id"), nb)
    graft.sources.Sinks.compactBucketed(
      spark, table + layout.derived, layout.keys, nb)
  }

  /** Compact a persisted MinHash index after many delta-appends
    * ([[appendToMinHashIndex]]) through [[compactIndex]]: no signature or
    * band hash is recomputed. Append often, compact occasionally; probes
    * are bit-identical before and after (ScaleSpec pins results, file
    * counts, and the exchange-free probe plan across the compaction).
    */
  def compactMinHashIndex(spark: SparkSession, table: String): Unit =
    compactIndex(spark, table, minHashLayout)

  /** Compact a persisted semantic-IVF index after many delta-appends
    * ([[appendToSemanticIvfIndex]]) through [[compactIndex]]: no vector
    * is re-routed, `_centroids` is untouched, only `_docs`/`_cells` file
    * layout is restored to one file per bucket.
    */
  def compactSemanticIvfIndex(spark: SparkSession, table: String): Unit =
    compactIndex(spark, table, semanticIvfLayout)

  /** Heal every sub-table of a persisted index whose compaction crashed
    * in [[graft.sources.Sinks.compactBucketed]]'s drop→RENAME window
    * (name dangling, complete copy at `&lt;sub&gt;_cstg`). The append path
    * self-heals via `appendBucketed`'s entry — but a door batch PROBES
    * before it appends, and `spark.table` on a dangling name throws
    * before any self-healing code runs, halting the ingest loop on a
    * one-rename-from-healthy state (the round-13 advice's liveness
    * window). Called at door-batch entry, probe entry, and compaction-
    * policy entry; suffixes that were never compacted simply have no
    * staging copy and are skipped. Bounded: two catalog lookups per
    * suffix, a metadata rename at most once per crash.
    */
  def healIndexTables(spark: SparkSession, table: String): Unit =
    Seq("_docs", "_bands", "_cells", "_centroids", "_meta").foreach(s =>
      graft.sources.Sinks.healDanglingCompaction(spark, table + s))

  /** Compaction POLICY for a persisted index under a standing ingest
    * loop: compact exactly when the derived table's data-file count
    * exceeds `maxDataFiles`. This is what the indexed streaming doors
    * wire into their batch bodies ([[graft.streaming.Streams
    * .streamDedupIngestIndexed]]): append often, and let the policy —
    * not an operator's memory — decide when the accreted generations get
    * re-filed. Without it a long-running ingest accretes one file
    * generation per trigger without bound (the round-12 verdict's
    * missing piece). The check is one bounded catalog+FS metadata
    * listing; the compaction itself is IO-only ([[compactIndex]] —
    * probes bit-identical before/after, pinned in StreamingSpec).
    * Returns true iff a compaction ran. `maxDataFiles <= 0` disables.
    */
  private def maybeCompactIndex(spark: SparkSession, table: String,
                                maxDataFiles: Int,
                                layout: IndexLayout): Boolean = {
    healIndexTables(spark, table)
    val due = maxDataFiles > 0 &&
      graft.sources.Sinks.tableDataFileCount(spark, table + layout.derived) >
        maxDataFiles
    if (due) compactIndex(spark, table, layout)
    due
  }

  /** [[maybeCompactIndex]] for a persisted MinHash index: the `_bands`
    * file count drives it. Returns true iff a compaction ran;
    * `maxDataFiles <= 0` disables. */
  def maybeCompactMinHashIndex(spark: SparkSession, table: String,
                               maxDataFiles: Int): Boolean =
    maybeCompactIndex(spark, table, maxDataFiles, minHashLayout)

  /** [[maybeCompactIndex]] for a persisted semantic-IVF index: the
    * `_cells` file count drives it. Returns true iff a compaction ran;
    * `maxDataFiles <= 0` disables. */
  def maybeCompactSemanticIvfIndex(spark: SparkSession, table: String,
                                   maxDataFiles: Int): Boolean =
    maybeCompactIndex(spark, table, maxDataFiles, semanticIvfLayout)

  /** Incremental near-dup probe against a PERSISTED index
    * ([[writeMinHashIndex]]) — identical algebra and results to
    * [[minHashNearDupsAgainst]] with the same configuration, but every
    * corpus-side leg (candidate join, skew-guard count, estimate
    * pre-filter, exact verify) reads the bucketed tables and therefore
    * never re-shuffles the corpus: per ingest batch, the only exchanges
    * are on the batch side. This is the steady-state shape of
    * dedup-at-the-door at 100 TB — the corpus index is written once and
    * reused every batch (ScaleSpec pins the exchange-free plan).
    */
  def minHashNearDupsAgainstIndex(
      newBatch: DataFrame, idCol: String, newShingles: Column,
      threshold: Double, table: String,
      cfg: LshConfig = LshConfig(),
      preReadMeta: Option[org.apache.spark.sql.Row] = None): DataFrame = {
    val spark = newBatch.sparkSession
    healIndexTables(spark, table)
    // the 1-row _meta read is a scheduled job; a door batch that probes
    // AND appends in one body reads it once and passes it down (r15)
    requireMinHashConfig(
      preReadMeta.getOrElse(minHashIndexMeta(spark, table)), table, cfg, "probe")

    val cDocs = spark.table(s"${table}_docs")
    minHashPairs(minHashSide(newBatch, idCol, newShingles, cfg),
      guarded(MinHashSide(cDocs, cDocs, spark.table(s"${table}_bands")), cfg),
      probePairs, threshold, cfg)
  }

  /** Resolve near-dup pairs into canonical-document assignments: every doc
    * in a duplicate cluster maps to the cluster's minimum id (connected
    * components by iterative min-label propagation over the pair edges).
    * Returns (id, canonical_id) for every id appearing in `pairs`;
    * `keepCorpus(df, ...)` then drops non-canonical rows.
    *
    * Each iteration is one shuffle (groupBy id over the edge list) and
    * propagates labels one edge-hop, so convergence takes O(cluster
    * diameter) rounds; the loop stops as soon as a round changes no label
    * (at which point the result equals the true transitive closure).
    * Duplicate clusters are near-cliques in practice (diameter ≈ 1–2);
    * `maxIters` is a safety bound for pathological chains, and a
    * non-converged residue still yields a valid, deterministic partition
    * refinement — safe, just less aggressive. The per-round localCheckpoint
    * blocks are released asynchronously by Spark's ContextCleaner once the
    * intermediate frames become unreachable.
    */
  def canonicalAssignments(pairs: DataFrame, maxIters: Int = 20,
                           reliable: Boolean = false): DataFrame = {
    // Lineage truncation per round is mandatory (the plan doubles per
    // iteration otherwise). localCheckpoint keeps blocks in executor
    // storage — fast, but NOT fault-tolerant: a lost executor kills the
    // job. On a real cluster pass reliable=true (with
    // `sc.setCheckpointDir` on durable storage) so a multi-hour fixpoint
    // survives executor churn at the cost of one HDFS/S3 round-trip per
    // iteration.
    def persistStep(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    if (reliable) require(
      pairs.sparkSession.sparkContext.getCheckpointDir.isDefined,
      "reliable=true needs sparkContext.setCheckpointDir on durable storage")
    // Materialize the edge list once (it is tiny relative to the corpus —
    // one row per near-dup pair) and truncate lineage per iteration:
    // without this every propagation round re-executes the full upstream
    // candidate-generation pipeline and the plan doubles per iteration.
    val edges = persistStep(
      pairs.select(col("id_1").as("src"), col("id_2").as("dst"))
        .union(pairs.select(col("id_2").as("src"), col("id_1").as("dst"))))
    var labels = persistStep(
      edges.select(col("src").as("id"), col("src").as("label"))
        .union(edges.select(col("src").as("id"), col("dst").as("label")))
        .groupBy("id").agg(min("label").as("label")))
    // Propagate to fixpoint: each round pulls neighbor labels; when no
    // label changes the assignment equals the true transitive closure.
    // maxIters is a safety bound only (hit means a pathological chain —
    // the partial result is still a valid refinement).
    //
    // Convergence detection rides the SAME job that materializes the
    // round (r15): each id's one self row is flagged through the min
    // aggregation, so "did any label change" is a Dataset.observe count
    // on the round's own output instead of the former next⋈previous
    // join — one scheduled job per round, not two. At the gate scale the
    // doors run at, the per-job constant was half the closure's cost.
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val neighborLabels = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"), lit(0).as("__self"))
      val merged = labels
        .select(col("id"), col("label"), lit(1).as("__self"))
        .union(neighborLabels)
        .groupBy("id")
        .agg(min("label").as("label"),
          // every id has exactly one self row (ids never leave the frame),
          // so this recovers the round's INCOMING label per id
          min(when(col("__self") === 1, col("label"))).as("__prev"))
      val obs = org.apache.spark.sql.Observation()
      val next = persistStep(
        merged.observe(obs,
            count(when(col("label") < col("__prev"), lit(1))).as("changed"))
          .select(col("id"), col("label")))
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next
      i += 1
    }
    labels.select(col("id"), col("label").as("canonical_id"))
  }

  /** Drop non-canonical near-duplicates from a corpus given pair output. */
  def keepCorpus(df: DataFrame, idCol: String, pairs: DataFrame,
                 maxIters: Int = 20): DataFrame = {
    val drop = canonicalAssignments(pairs, maxIters)
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Near-duplicate pairs by 64-bit SimHash with Hamming distance ≤ maxDist.
    * Candidate generation by the pigeonhole principle: the 64 bits split
    * into `maxDist + 1` chunks, so any pair within distance maxDist shares
    * at least one exact chunk — complete recall, no all-pairs scan. Shuffle
    * key is (chunkIndex, chunkValue).
    */
  def simHashNearDups(
      df: DataFrame, idCol: String, tokens: Column,
      maxDist: Int = 3, seed: Long = 42L): DataFrame =
    // empty token sets all hash to sig 0 — a degenerate all-pairs bucket
    simHashNearDupsFromSigs(
      df.filter(size(tokens) > 0)
        .select(col(idCol).as("id"),
          HashFunctions.simhash64(tokens, seed).as("sig")),
      maxDist)

  /** Pigeonhole near-dup pairs over PRE-COMPUTED 64-bit signatures
    * (columns `id`, `sig`) — the [[simHashNearDups]] core, exposed so
    * signatures from other hash families (e.g. an oracle-replicable
    * md5-derived SimHash) reuse the same complete-recall chunk join.
    */
  def simHashNearDupsFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 31,
      s"maxDist=$maxDist out of range [0, 31] (chunks need ≥2 bits each)")
    val chunks = maxDist + 1
    val width = 64 / chunks
    // width = 64 (maxDist = 0, exact-signature dedup) needs the full mask:
    // (1L << 64) wraps to 1L in JVM shift semantics and would zero every
    // chunk value, collapsing the corpus into one bucket
    val mask = if (width == 64) -1L else (1L << width) - 1
    val base = sigs.select(col("id"), col("sig"))

    val chunkCols = (0 until chunks).map { c =>
      shiftrightunsigned(col("sig"), c * width).bitwiseAND(lit(mask))
    }
    val chunked = base.select(col("id"), col("sig"),
      posexplode(array(chunkCols: _*)).as(Seq("chunk", "chunkVal")))

    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") &&
        col("a.chunkVal") === col("b.chunkVal") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Near-duplicate pairs by embedding cosine ≥ threshold between a bounded
    * probe set and the full corpus — ALL pairs touching a probe row, with
    * the pair emitted as (min id, max id) and deduped (a probe row with a
    * higher id than its match still reports the pair). The probe side is
    * broadcast (a BroadcastNestedLoopJoin with a codegen'd cosine
    * predicate); for unbounded all-pairs at scale, pre-bucket with
    * [[Similarity.hyperplaneSignature]] first.
    */
  def embeddingNearDups(
      emb: DataFrame, idCol: String, vecCol: String,
      probe: Column, threshold: Double, maxProbeRows: Long = 100000L): DataFrame = {
    val p = emb.filter(probe)
      .select(col(idCol).as("pid"), col(vecCol).as("v1"))
    // The probe side is broadcast whole: an unguarded predicate matching a
    // large corpus fraction would OOM the driver/executors. The count is one
    // cheap pre-pass over the pruned probe projection; for unbounded
    // all-pairs use hyperplane bucketing (Similarity.lshTopK's banding).
    val probeCount = p.count()
    require(probeCount <= maxProbeRows,
      s"embeddingNearDups probe set has $probeCount rows (max $maxProbeRows): " +
        "the probe side is broadcast — tighten the predicate or pre-bucket " +
        "with banded hyperplane LSH instead of raising the limit blindly")
    val c = emb
      .select(col(idCol).as("cid"), col(vecCol).as("v2"))
    broadcast(p).join(c, col("pid") =!= col("cid"))
      .withColumn("cosine", VectorFunctions.cosine(col("v1"), col("v2")))
      .filter(col("cosine") >= threshold)
      .select(least(col("pid"), col("cid")).as("id_1"),
        greatest(col("pid"), col("cid")).as("id_2"), col("cosine"))
      .dropDuplicates("id_1", "id_2")
  }

  /** Directed containment pairs: (sub, super) where at least `threshold`
    * of sub's distinct shingles also appear in super — Broder's
    * containment coefficient |A∩B|/|A|, the asymmetric complement of
    * Jaccard that near-dup misses: a paragraph quoted whole inside a
    * larger page scores low Jaccard but containment ≈ 1.
    *
    * Scale shape: the sparse-join discipline of [[graft.operators
    * .TextAnalysis.tfCosinePairs]] — pairs meet ONLY through shared
    * shingles (term equi-join), with the df-cut dropping boilerplate
    * shingles before the self-join. Sizes and shared counts are integer;
    * the single final divide is deterministic. Both the cut and the sizes
    * are defined over the SAME df-cut shingle sets, so the coefficient is
    * self-consistent.
    */
  /** EXACT Jaccard similarity join via prefix filtering (Bayardo,
    * Ma &amp; Srikant, "Scaling up all pairs similarity search", WWW 2007;
    * the PPJoin family of Xiao et al.): order each document's distinct
    * tokens by GLOBAL rarity (ascending document frequency, token text
    * as tie-break), and observe that two sets with
    * Jaccard ≥ t = p/q must share a token within their first
    * `n − ceil(t·n) + 1` tokens — so candidate pairs come from an
    * equi-join on PREFIX tokens only, and rare-first ordering makes
    * those prefixes the least-shared tokens in the corpus. Exact
    * verification (`q·|A∩B| ≥ p·(|A|+|B|−|A∩B|)`, all integers) runs
    * only on candidates.
    *
    * vs the neighbors: [[minHashNearDups]] is approximate on the same
    * predicate; [[containmentPairs]] is the asymmetric overlap
    * coefficient; [[TextAnalysis.tfCosinePairs]] is weighted cosine.
    * This one is exact-Jaccard with the candidate count provably
    * complete — the spec pins it against brute force.
    *
    * The threshold is a RATIONAL p/q so prefix lengths and the verify
    * predicate are integer-exact in both engines. Scale shape: the
    * prefix explode is a per-doc O(n·(1−t)) slice of the token stream;
    * candidates join on single tokens (hash-partitionable); the size
    * filter `q·min ≥ p·max` prunes before verification.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, tokens: Column,
                         p: Int, q: Int,
                         maxDocFreq: Long = 10000L,
                         keepSizes: Boolean = false): DataFrame = {
    require(p >= 1 && q >= p, s"threshold $p/$q must be in (0, 1]")
    val tf = df.select(col(idCol).as("id"),
        explode(array_distinct(tokens)).as("t"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("dfq"))
    // boilerplate cut AND frequency attach via partial-agg + broadcast
    // join-back: dfreq is vocabulary-sized (map-side-combined before its
    // exchange), so the planner broadcasts it and the posting frame never
    // shuffles by token. Round 14 tried fusing this into one
    // count().over(partitionBy(t)) window — measurably SLOWER on both
    // boxes and the §2.5 co-location anti-pattern: the window shuffles
    // the FULL posting frame by the Zipf-hot token key and parks every
    // posting of a stopword-frequency token on one task, where this
    // shape's partial agg combines map-side. Reverted (r15).
    val kept = tf.join(dfreq.filter(col("dfq") <= maxDocFreq), Seq("t"))
      .localCheckpoint(true)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dfq"), col("t"))
    val wSize = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
    // checkpoint only the PREFIX slice (≈ (1−t) of the tokens): that is
    // all the candidate join consumes, twice (both aliases)
    val prefix = kept
      .withColumn("pos", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wSize))
      .filter(col("pos") <= col("n") - expr(s"(n * $p + $q - 1) DIV $q") + 1)
      .localCheckpoint(true)
    // Candidate enumeration is compute-dense (pairs out ≫ prefix bytes
    // in) and the checkpoint above erases partitioning metadata, so AQE's
    // byte-based coalescing funnels the enumeration through one or two
    // tasks (measured r15). An explicit repartition at the session's
    // shuffle parallelism is exempt from coalescing; keyed on the join's
    // own token key so a shuffled join at cluster scale reuses it, and
    // rare-first prefixes keep the t-key unskewed (guide §1.2/§2.5).
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val prefixJ = prefix.repartition(nPart, col("t"))
    val cand = prefixJ.alias("a").join(prefixJ.alias("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        col("a.n").as("n_1"), col("b.n").as("n_2"),
        col("a.pos").as("pos_1"), col("b.pos").as("pos_2"))
      .filter(lit(q.toLong) * least(col("n_1"), col("n_2")) >=
        lit(p.toLong) * greatest(col("n_1"), col("n_2")))
      // positional filter (PPJoin, Xiao et al. 2008): tokens are ranked
      // identically in every doc, so a match at positions (pos_1, pos_2)
      // caps the total overlap at 1 + min(n_1 − pos_1, n_2 − pos_2); a
      // pair whose cap cannot reach the threshold dies BEFORE the
      // verification join. On repetitive corpora (many shared "rare"
      // prefixes) this is the difference between verifying millions of
      // candidates and thousands. Map-side, integer-only.
      .withColumn("ub",
        lit(1L) + least(col("n_1") - col("pos_1"), col("n_2") - col("pos_2")))
      .filter(lit(q.toLong) * col("ub") >=
        lit(p.toLong) * (col("n_1") + col("n_2") - col("ub")))
      .select(col("id_1"), col("id_2"), col("n_1"), col("n_2"))
      .distinct()
      // verification expands each candidate by id_1's full token list —
      // the same compute-density argument as the candidate join, so the
      // probe side gets the same explicit spread before the expansion
      .repartition(nPart, col("id_1"))
    val inter = cand
      .join(kept.select(col("id").as("id_1"), col("t")), Seq("id_1"))
      .join(kept.select(col("id").as("id_2"), col("t")), Seq("id_2", "t"))
      .groupBy(col("id_1"), col("id_2"), col("n_1"), col("n_2"))
      .agg(count(lit(1)).as("n_shared"))
    val verified = inter
      .filter(lit(q.toLong) * col("n_shared") >=
        lit(p.toLong) * (col("n_1") + col("n_2") - col("n_shared")))
    if (keepSizes)
      verified.select(col("id_1"), col("id_2"), col("n_shared"),
        (col("n_1") + col("n_2") - col("n_shared")).as("n_union"),
        (col("n_shared").cast("double") /
          (col("n_1") + col("n_2") - col("n_shared"))).as("jaccard"))
    else
      verified.select(col("id_1"), col("id_2"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_1") + col("n_2") - col("n_shared"))).as("jaccard"))
  }

  /** Dedup threshold-sweep report — "how many pairs would merge at each
    * Jaccard threshold?", the tuning table you consult BEFORE committing
    * to a dedup aggressiveness. Exact pairs come from
    * [[prefixJaccardPairs]] at the low bound `p/q` (prefix filtering is
    * exact-complete — no LSH recall caveat), each pair lands in integer
    * band `⌊bands·J⌋` via `(bands·|∩|) DIV |∪|`, and the cumulative
    * column counts pairs with J ≥ band/bands EXACTLY (the DIV band
    * boundary coincides with the rational threshold test).
    *
    * The cumulative sum runs over the ≤ bands+1 aggregated rows — a
    * bounded self-join, never a window over data.
    *
    * Output: `(band, n_pairs, n_pairs_merged)` — merged = pairs that a
    * dedup at threshold band/bands would collapse.
    */
  def jaccardThresholdSweep(df: DataFrame, idCol: String, tokens: Column,
                            p: Int, q: Int, bands: Int = 10,
                            maxDocFreq: Long = 10000L): DataFrame = {
    require(bands >= 2, s"bands=$bands must be >= 2")
    val pairs = prefixJaccardPairs(df, idCol, tokens, p, q, maxDocFreq,
      keepSizes = true)
    // perBand (≤ bands+1 rows) feeds BOTH sides of the cumulative
    // self-join; without a plan barrier the ENTIRE prefixJaccardPairs
    // posting self-join executes twice — the measured branch-re-execution
    // trap (SCALE.md): localCheckpoint the band histogram (a handful of
    // rows) so the expensive pair-mining subtree runs exactly once.
    val perBand = pairs
      .select(expr(s"$bands * n_shared DIV n_union").as("band"))
      .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint(true)
    perBand.alias("x")
      .join(perBand.alias("y"), col("y.band") >= col("x.band"))
      .groupBy(col("x.band").as("band"), col("x.n_pairs").as("n_pairs"))
      .agg(sum(col("y.n_pairs")).as("n_pairs_merged"))
  }

  /** Blocked edit-distance pairs — the entity-resolution / record-linkage
    * primitive: candidates come ONLY from an equi-join on a caller-chosen
    * blocking key (sort-key prefix, soundex, first tokens...), then exact
    * Levenshtein verifies within the block. The length filter
    * |len(a) − len(b)| ≤ maxDist (a lower bound on edit distance) prunes
    * before the O(len²) verify computes.
    *
    * Blocks bigger than `maxBlock` are dropped whole (partial-agg count +
    * broadcast anti-join, the standard skew guard here): a degenerate
    * blocking key ("", a constant) would otherwise turn the block join
    * into a cross product. Recall within surviving blocks is exact;
    * cross-block pairs are by-construction out of scope — pick the
    * blocking key so true matches share it.
    *
    * Output: (id_1, id_2, edit_dist) with id_1 &lt; id_2, distance ≤
    * `maxDist`.
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: Column,
                        blockCol: Column, maxDist: Int,
                        maxBlock: Long = 10000L): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist must be >= 0")
    val t = df.select(col(idCol).as("id"), strCol.as("s"), blockCol.as("blk"))
      .localCheckpoint(true)
    val big = t.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBlock).select(col("blk"))
    val kept = t.join(broadcast(big), Seq("blk"), "left_anti")
    // thresholded levenshtein: O(len·maxDist) banded DP that bails to -1
    // past the threshold, instead of the full O(len²) table per pair —
    // the verify step is the hot loop of any blocked fuzzy join.
    // The distance is computed ONCE and materialized at the operator
    // boundary before the `>= 0` filter: filtering on the projected
    // column directly lets predicate pushdown substitute the levenshtein
    // into every predicate conjunct plus the output projection — three
    // evaluations per candidate pair (measured 7.2 s vs 3.5 s at sf0.1,
    // the cdcChunkIndex CollapseProject lesson on a join).
    kept.alias("a").join(kept.alias("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id") &&
          abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(col("a.id").as("id_1"), col("b.id").as("id_2"),
        levenshtein(col("a.s"), col("b.s"), maxDist).cast("long").as("edit_dist"))
      .localCheckpoint(true)
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  def containmentPairs(df: DataFrame, idCol: String, shingles: Column,
                       threshold: Double, maxDocFreq: Long = 10000L): DataFrame = {
    val pairs = df.select(col(idCol).as("id"), explode(shingles).as("t"))
      .localCheckpoint(true)
    val hot = pairs.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq).select(col("t"))
    val kept = pairs.join(broadcast(hot), Seq("t"), "left_anti")
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // shared counts are symmetric: join each pair ONCE (id < id) and emit
    // both directions afterwards — halves the self-join output and the
    // count aggregation input.
    // Explicit spread before the enumeration (r15): the upstream
    // checkpoint leaves a handful of scan-shaped partitions and the pair
    // join is compute-dense, so without this the enumeration runs on 1-3
    // tasks regardless of core count; keyed on the join's token key
    // (df-cut keeps it unskewed), sized by the session's own shuffle
    // parallelism — scale-adaptive, not a local[32] constant.
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val keptJ = kept.repartition(nPart, col("t"))
    val undirected = keptJ.alias("a").join(keptJ.alias("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .agg(count(lit(1)).as("n_shared"))
    val shared = undirected
      .select(col("id_1").as("id_sub"), col("id_2").as("id_super"), col("n_shared"))
      .unionByName(undirected
        .select(col("id_2").as("id_sub"), col("id_1").as("id_super"), col("n_shared")))
    shared
      .join(sizes.select(col("id").as("id_sub"), col("n").as("n_sub")), "id_sub")
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_sub"))
      .filter(col("containment") >= threshold)
      .select(col("id_sub"), col("id_super"), col("containment"))
  }

  /** Semantic near-duplicate pairs over an embedding column — the
    * SemDeDup idea (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space cheaply, then verify exact cosine only within
    * clusters. Here the clustering is banded random-hyperplane LSH
    * (deterministic seeded planes, the same family as
    * [[Similarity.lshTopK]]) rather than k-means, which keeps the whole
    * pipeline replicable in external SQL: candidates come from an
    * EQUI-join on (band, bandSig) — hash-partitionable at 100 TB, never an
    * all-pairs product — and only candidates pay the exact-cosine verify.
    *
    * Banding math: vectors at angle θ agree on one plane with
    * p = 1 − θ/π, collide in a band of `bandBits` planes with p^bandBits,
    * and become candidates if ANY of `numBands` bands collides —
    * P = 1 − (1 − p^bandBits)^numBands. The [[dropOversized]] guard drops
    * degenerate buckets (e.g. zero vectors all signing identically).
    *
    * Returns verified (id_1, id_2, cosine) with id_1 &lt; id_2.
    */
  def semanticNearDups(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bandBits: Int = 8, numBands: Int = 16, seed: Long = 42L,
      maxBucketSize: Long = 100000L, probeDepth: Int = 0,
      maxProbeBits: Int = 8): DataFrame = {
    require(probeDepth >= 0 && probeDepth <= 2,
      s"probeDepth=$probeDepth must be 0 (exact buckets), 1 (single-bit " +
        "probes) or 2 (query-directed probes over <=2-bit flip sets)")
    require(maxProbeBits >= 1, s"maxProbeBits=$maxProbeBits must be >= 1")
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    withHyperplanes(base, selfPairs, bandBits * numBands, seed) { planes =>
      // Multi-probe (Lv et al., VLDB 2007, margin-aware): probe rows on
      // ONE side also carry the signatures with the min(bandBits,
      // maxProbeBits) LEAST-CONFIDENT bits flipped — a pair whose band
      // signatures differ in exactly one bit meets when the flip on
      // side a lands on side b's exact bucket. One probed side covers
      // ALL single-bit differences only while the probe set is complete
      // (bandBits ≤ maxProbeBits); in the margin-TRUNCATED regime a
      // disagreement bit outside the probe side's q lowest-margin planes
      // is missed even if the other side would have flipped it — recall
      // there relies on disagreement bits having small |dot| margin on
      // the PROBED side, which is where similar-pair sign flips
      // concentrate. At bandBits ≤ maxProbeBits the probe set is ALL
      // single flips
      // (per-band recall p^b → p^b + b·p^(b−1)(1−p)); past it — the
      // corpus-adaptive geometry widening bands with log n — the probe
      // count stays CONSTANT instead of growing with bandBits, and the
      // flips it keeps are precisely the lowest-|dot| planes where
      // similar-pair disagreements concentrate. probeDepth=2 upgrades
      // to Lv §4.2's full query-directed sequence: the maxProbeBits
      // best flip SETS of ≤2 bits by summed margin — a 2-bit
      // disagreement on two near-zero margins is likelier than a 1-bit
      // flip on a confident plane, so held recall costs fewer probe
      // rows (RecallBench measures the trade at sf1/sf3).
      val banded =
        if (probeDepth == 0) hyperplaneBands(base, planes, bandBits)
        else
          base.select(col("id"),
            posexplode(VectorFunctions.hyperplaneProbes(col("v"), planes,
              bandBits, maxProbeBits, maxFlip = probeDepth))
              .as(Seq("band", "probeSigs")))
            .select(col("id"), col("band"),
              col("probeSigs").getItem(0).as("bandSig"), col("probeSigs"))
      val pruned = dropOversized(banded, sigKeys, maxBucketSize)
      val probed = if (probeDepth == 0) pruned else
        pruned.select(col("id"), col("band"),
          explode(col("probeSigs")).as("bandSig"))
      verifyPairs(
        candidatePairs(probed,
          pruned.select(col("id"), col("band"), col("bandSig")), sigKeys,
          selfPairs),
        selfPairs, base, base, vectorCosine, threshold)
    }
  }

  /** Run `pairs` over the random hyperplanes of a semantic LSH operator.
    * Their dimension comes from a bounded driver action on `base` — a
    * 1-row dim probe (same pattern as [[Similarity.lshTopK]]); an empty
    * `base` has no dimension and yields the empty (shape.a, shape.b,
    * cosine) frame.
    */
  private def withHyperplanes(base: DataFrame, shape: PairShape,
                              numPlanes: Int, seed: Long)(
      pairs: Array[Array[Double]] => DataFrame): DataFrame =
    base.select(size(col("v"))).limit(1).collect().headOption match {
      case None =>
        base.limit(0).select(col("id").as(shape.a), col("id").as(shape.b),
          lit(0.0).as("cosine"))
      case Some(row) =>
        pairs(Similarity.hyperplanes(row.getInt(0), numPlanes, seed))
    }

  /** `(id, band, bandSig)` rows: each vector's `bandBits`-plane signature
    * per band. */
  private def hyperplaneBands(base: DataFrame, planes: Array[Array[Double]],
                              bandBits: Int): DataFrame =
    base.select(col("id"),
      posexplode(VectorFunctions.hyperplaneSignatures(col("v"), planes, bandBits))
        .as(Seq("band", "bandSig")))

  /** Incremental semantic near-dup probe: a NEW batch of embeddings
    * checked against the standing corpus without ever pairing the corpus
    * with itself — the embedding-space analog of
    * [[minHashNearDupsAgainst]], and the operation a running ingest
    * pipeline performs on every batch. The corpus side's banded signature
    * frame is what a deployment would precompute and persist alongside the
    * corpus embeddings; join cost is |new| × bucket-mates.
    *
    * Same banding as [[semanticNearDups]], with the [[dropOversized]]
    * guard on the CORPUS side; returns verified (id_new, id_corpus,
    * cosine).
    */
  def semanticNearDupsAgainst(
      corpus: DataFrame, newBatch: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bandBits: Int = 8, numBands: Int = 16,
      seed: Long = 42L, maxBucketSize: Long = 100000L): DataFrame = {
    val cBase = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nBase = newBatch.select(col(idCol).as("id"), col(vecCol).as("v"))
    withHyperplanes(nBase, probePairs, bandBits * numBands, seed) { planes =>
      val cPruned = dropOversized(hyperplaneBands(cBase, planes, bandBits),
        sigKeys, maxBucketSize)
      verifyPairs(
        candidatePairs(hyperplaneBands(nBase, planes, bandBits), cPruned,
          sigKeys, probePairs),
        probePairs, nBase, cBase, vectorCosine, threshold)
    }
  }

  /** IVF-routed semantic near-dup pairs — SemDeDup's PRODUCTION shape
    * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023 §3: cluster the embeddings
    * with k-means, then dedup WITHIN each cluster): every vector routes
    * to its `nassign` nearest cells, and candidate pairs are the
    * within-cell self-join — candidate volume is `n · targetCellSize / 2`,
    * LINEAR in n at fixed occupancy, versus the n^(1+ρ) the
    * recall-compensated LSH path ([[semanticNearDups]]) pays at low τ
    * (SCALE.md "Recall-compensated LSH": measured Θ(n^1.66) at τ=0.4).
    * This is therefore the preferred low-τ route; LSH remains preferable
    * at high τ where a few narrow bands already have near-perfect recall
    * and no centroid pass is needed.
    *
    * Recall is lost only across cell boundaries; `nassign` ≥ 2 (Jégou et
    * al.'s multiple-assignment) makes a pair a candidate whenever ANY of
    * the nassign² cell combinations intersect, which covers the
    * borderline-between-two-cells geometry that single assignment
    * misses. The [[dropOversized]] guard drops cells larger than
    * `maxCellSize` (degenerate centroid sets) — size `cells` via
    * [[Similarity.ivfCellCount]] so healthy cells sit far below it.
    *
    * `cells` is (cell, centroid) — PARAMETER-sized (explicit ≤ 2¹⁶
    * require; the same planes/codebooks discipline the LSH and PQ paths
    * use), collected once and embedded in a codegen routing expression
    * ([[graft.functions.IvfRouteCells]]), so assignment is a pure
    * per-row map: ZERO shuffle, no n × ncells row expansion (the first
    * formulation's collect_list shuffled the full expansion — measured
    * 48–56 s at n = 60 000 where the expression form routes in seconds).
    * Pass [[Similarity.kmeansCentroids]] output for learned routing
    * (production), or seed rows (`emb.filter(pred)`) for bit-reproducible
    * routing that an external SQL engine can replay — the audit
    * configuration `dedup_semantic_ivf` uses. Centroid rows are sorted
    * by cell id before embedding, and the expression breaks score ties
    * to the lowest index, so tie behavior is (score desc, cell asc) on
    * BOTH engines. Directionless (zero) vectors route nowhere.
    *
    * Cost honesty at 100 TB: the CANDIDATE stage is linear, but FLAT
    * routing computes n·ncells cosines, and ncells itself grows as n/64 —
    * fine to ~10⁴ cells (n ≈ 10⁶; a 10⁴-row broadcast), past which the
    * production fix is hierarchical assignment (route to √ncells coarse
    * groups, then within the group — the IMI/two-level-IVF shape, routing
    * cost n·2√ncells) or an ANN-assisted assignment; both keep the
    * cell-LOCAL candidate property this operator exists for. The flat
    * quantizer here is the correct single-level rendition and the
    * building block those schemes compose.
    *
    * Returns verified (id_1, id_2, cosine) with id_1 &lt; id_2 — same
    * contract as [[semanticNearDups]].
    */
  def semanticNearDupsIvf(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      cells: DataFrame, nassign: Int = 2,
      maxCellSize: Long = 1000000L, groupProbe: Int = 0,
      groupCells: Option[DataFrame] = None): DataFrame = {
    require(nassign >= 1 && nassign <= 8,
      s"nassign=$nassign out of range [1, 8] (candidate volume scales with it)")
    require(groupProbe >= 0 && groupProbe <= 64,
      s"groupProbe=$groupProbe out of range [0, 64] (0 = flat routing)")
    require(groupCells.isEmpty || groupProbe > 0,
      "groupCells (explicit level-1 quantizer) requires groupProbe > 0")
    // bounded driver action: the cell table is a parameter (like LSH
    // planes / PQ codebooks), enforced in collectCentroids — never a
    // data-sized collect
    val (flat, dim) = collectCentroids(cells)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val route = routeCellsExpr(col("v"), flat, dim, nassign, groupProbe,
      groupCells)
    val pruned = dropOversized(
      base.select(col("id"), explode(route).as("cell")), cellKey, maxCellSize)
    verifyPairs(candidatePairs(pruned, pruned, cellKey, selfPairs),
      selfPairs, base, base, vectorCosine, threshold)
  }

  /** Cluster-coherence audit for the IVF route — the runtime check of the
    * PRECONDITION [[semanticNearDupsIvf]]'s routing rule rests on: the
    * route's recall premise is a CLUSTERED corpus (RECALL_CLUSTERED.json
    * measured 0.77 recall on the clustered regime vs 0.10–0.27 on the
    * near-uniform one at low τ — the premise, not the implementation: no
    * Voronoi cell of a near-uniform point set is 66° wide). One extra
    * broadcast join + one agg over the assignment the operator already
    * computes.
    *
    * Statistic: mean top-1 routing cosine, kept INTEGER-exact so the row
    * is hash-replayable — each vector contributes
    * `floor(cos(v, nearest centroid) · 10⁶)` (floor of identical doubles
    * is identical on any engine), and
    * `coherent = (sum_cos_u ≥ floorPpm · n_routed)` stays in integers.
    * Zero/mismatched vectors route nowhere and are excluded (n_routed
    * counts only routed rows).
    *
    * Threshold guidance (measured in DedupSimilaritySpec under LEARNED
    * centroids): the clustered regime audits above 0.9 mean top-1
    * cosine; the near-uniform regime (32-dim gaussians) sits well below
    * 0.6. Below `floorPpm` ≈ 700000 the corpus is too weakly clustered
    * for cell-local recall at low τ — route through [[semanticNearDups]]
    * with probeDepth ≥ 1 (multi-probe holds 0.73–0.97 there,
    * RECALL.json) instead of trusting IVF cells. Under SEEDED anchors
    * (the replayable audit configuration) the bar is necessarily lower —
    * the driver-gated query documents 0.20 on the synthetic fixture
    * (measured 0.227–0.246 across sf).
    *
    * Returns ONE row `(n_routed, sum_cos_u, coherence_floor_ppm,
    * coherent)`.
    */
  def ivfRouteCoherence(
      emb: DataFrame, idCol: String, vecCol: String, cells: DataFrame,
      floorPpm: Long): DataFrame = {
    require(floorPpm >= -1000000L && floorPpm <= 1000000L,
      s"floorPpm=$floorPpm must be a cosine in ppm ([-10⁶, 10⁶])")
    val spark = emb.sparkSession
    val (flat, dim) = collectCentroids(cells)
    // positional index → centroid frame from the SAME collected matrix
    // the routing expression embeds (index order = id order), so the
    // joined centroid is exactly the one routing picked
    val idxRows = (0 until flat.length / dim).map { i =>
      org.apache.spark.sql.Row(i,
        (0 until dim).map(j => flat(i * dim + j)).toArray.toSeq)
    }
    val idxCentroids = spark.createDataFrame(
      spark.sparkContext.parallelize(idxRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val top1 = base
      .select(col("v"),
        get(VectorFunctions.ivfRouteCells(col("v"), flat, dim, 1), lit(0))
          .as("cell"))
      .filter(col("cell").isNotNull)
    top1.join(broadcast(idxCentroids), Seq("cell"))
      .select(floor(VectorFunctions.cosine(col("v"), col("centroid"))
        * lit(1000000.0)).as("cos_u"))
      .agg(count(lit(1)).as("n_routed"), sum(col("cos_u")).as("sum_cos_u"))
      .select(col("n_routed"), col("sum_cos_u"),
        lit(floorPpm).as("coherence_floor_ppm"),
        (col("sum_cos_u") >= lit(floorPpm) * col("n_routed")).as("coherent"))
  }

  /** Scale-indexed pair-recall audit for the IVF-routed dedup family —
    * the runtime check of the OTHER precondition [[semanticNearDupsIvf]]
    * rests on (beyond [[ivfRouteCoherence]]'s clustering premise): that
    * the route still FINDS a declared floor's worth of the true near-dup
    * mass at the corpus's current scale. Round 12's RECALL.json measured
    * the failure mode this gate exists for — probe recall at τ=0.4
    * eroding 0.455 → 0.158 → 0.092 across sf0.1/sf1/sf3 on a
    * weakly-clustered corpus as the Voronoi partition refines — so the
    * floor is a FUNCTION OF n ([[Similarity.ivfPairRecallFloorPpm]]),
    * not a constant: a fixed floor would either block the gate or say
    * nothing at scale.
    *
    * Truth comes from an EXACT cosine pass restricted to a deterministic
    * id stratum (`id % m = 0`, `m = max(1, n/2000)` — so the probe side
    * stays ≤ ~3000 rows and the audit costs O(n) cosines at every scale,
    * never the O(n²) full brute force): [[embeddingNearDups]]'s bounded
    * broadcast join. Found pairs are the route's verified output
    * restricted to the same stratum endpoints. Both counts are over
    * unordered pairs with ≥1 stratum endpoint, so recall = found/truth
    * is an unbiased stratum estimate of global pair recall; every
    * quantity is integer (counts, modulus, ppm floor) and the verdict an
    * integer cross-multiply — the row replays hash-exact in SQL when
    * `cells` is seeded.
    *
    * Returns ONE row `(n, probe_modulus, truth_pairs, found_pairs,
    * recall_floor_ppm, recall_ok)`. A failing gate at scale says: raise
    * nassign / probe deeper ([[semanticNearDupsIvfAgainstIndex]]'s
    * `nprobe`), re-cluster, or route the corpus through multi-probe LSH
    * ([[semanticNearDups]] probeDepth ≥ 1) — the operator docs' standing
    * escalation path.
    *
    * `groupProbe` passes straight through to [[semanticNearDupsIvf]], so
    * the audited route is THE SHIPPED ROUTE at every scale: the declared
    * gates hand it the same `if (ncells > 512) 8 else 0` policy the
    * production `dedup_semantic_ivf` query uses — past 512 cells the
    * audit measures the two-level posture (with its IMI boundary loss),
    * not the flat route the deployment no longer runs. At the oracle
    * gate's scale (ncells = 8) the policy resolves to flat, so the SQL
    * replay is unchanged. `floorPpm` overrides the declared floor —
    * the clustered τ=0.8 gate passes
    * [[Similarity.ivfClusteredPairRecallFloorPpm]]; `None` keeps the
    * low-τ survival bound [[Similarity.ivfPairRecallFloorPpm]].
    */
  def semanticIvfRecallAudit(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      cells: DataFrame, nassign: Int = 2, groupProbe: Int = 0,
      floorPpm: Option[Long] = None): DataFrame = {
    val n = emb.count()
    val m = math.max(1L, n / 2000L)
    val floor = floorPpm.getOrElse(Similarity.ivfPairRecallFloorPpm(n))
    val truth = embeddingNearDups(emb, idCol, vecCol,
        col(idCol) % m === 0, threshold)
      .agg(count(lit(1)).as("truth_pairs"))
    val found = semanticNearDupsIvf(emb, idCol, vecCol, threshold,
        cells, nassign, groupProbe = groupProbe)
      .filter(col("id_1") % m === 0 || col("id_2") % m === 0)
      .agg(count(lit(1)).as("found_pairs"))
    truth.crossJoin(found)
      .select(lit(n).as("n"), lit(m).as("probe_modulus"),
        col("truth_pairs"), col("found_pairs"),
        lit(floor).as("recall_floor_ppm"),
        (col("found_pairs") * lit(1000000L) >=
          lit(floor) * col("truth_pairs")).as("recall_ok"))
  }

  /** Deterministic CLUSTERED view of an embedding corpus — the gate
    * fixture for the IVF family's OPERATING-regime recall contract
    * (`dedup_semantic_ivf_recall08`). The driver fixture is near-uniform
    * (zero pairs at τ=0.8 — a recall gate over it would certify against
    * an empty truth set), so the clustered regime is DERIVED from it
    * with arithmetic both engines replay bit-exactly:
    *
    *   member_i = center_(i mod k) + 0.2 · v_i,   k = max(1, n / occupancy)
    *
    * with `center_c` = the fixture vector of id `c` (so centers exist
    * for ids < k) and `v_i` the member's own fixture vector as the noise
    * direction. Near-orthogonal same-norm fixture vectors make
    * in-cluster cosine ≈ 1/(1+0.2²) ≈ 0.96 and cross-cluster ≈ 0, so
    * τ=0.8 truth is exactly the in-cluster pair set — the SemDeDup
    * regime (tight clusters, in-cluster dedup), same construction as
    * RecallBench's `clusteredEmb` but from FIXTURE vectors instead of a
    * splitmix PRNG, because IEEE `a + 0.2·b` on float→double casts
    * replays in SQL (`list_transform(list_zip(...))`) while a 64-bit
    * mixer does not. On id-strided scale-up fixtures (ScaleGen) residue
    * classes whose center id does not exist drop their members via the
    * inner join — deterministic, replayed identically by the oracle; the
    * audit's `n` is the view's own count. All arithmetic is
    * double-on-double after one explicit cast, zero shuffle beyond the
    * center equi-join (k ≤ n/occupancy rows — broadcast-ranged).
    */
  def clusteredEmbeddingView(
      emb: DataFrame, idCol: String, vecCol: String,
      occupancy: Long = 20L): DataFrame = {
    require(occupancy >= 2L, s"occupancy=$occupancy must be >= 2")
    val n = emb.count()
    val k = math.max(1L, n / occupancy)
    val centers = emb.filter(col(idCol) < k)
      .select(col(idCol).as("__cid"),
        col(vecCol).cast("array<double>").as("__cv"))
    emb.select(col(idCol), (col(idCol) % k).as("__cid"),
        col(vecCol).cast("array<double>").as("__sv"))
      .join(broadcast(centers), Seq("__cid"))
      .select(col(idCol),
        zip_with(col("__cv"), col("__sv"),
          (a, b) => a + lit(0.2) * b).as(vecCol))
  }

  /** Persist the reusable SEMANTIC-IVF index for a standing corpus — the
    * embedding-space mirror of [[writeMinHashIndex]], and the steady-state
    * shape of semantic dedup-at-the-door: route the corpus ONCE, keep the
    * routed assignments bucketed on the cell key, and every ingest batch
    * probes them without re-routing or re-shuffling the corpus. Three
    * bucketed tables:
    *
    *  - `&lt;table&gt;_cells`     — (cell, id), bucketed+sorted on `cell`: the
    *    candidate join's corpus side;
    *  - `&lt;table&gt;_docs`      — (id, v), bucketed on `id`: the exact-cosine
    *    verify side;
    *  - `&lt;table&gt;_centroids` — the (cell, centroid) table itself: probes
    *    read their routing matrix FROM the index, so a probe can never
    *    run under different centroids than the build (the config-mismatch
    *    class of bug is structurally impossible, one step stronger than
    *    the minhash index's meta-check refusal).
    *
    * Routing uses the same embedded-matrix map as [[semanticNearDupsIvf]]
    * (zero shuffle), with the same id-sorted tie discipline and the same
    * scale-adaptive posture ([[Similarity.ivfGroupProbePolicy]]: flat to
    * 512 cells — where a seeded-anchor index is fully SQL-replayable and
    * the sf0.01 gate lives — two-level past it, where flat build routing
    * over a constant-occupancy partition would be the lifecycle's Θ(n²)
    * term). Build, append, probe and drift derive the identical router
    * from this stored centroid table, so index content and probe routing
    * can never run different postures.
    */
  def writeSemanticIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String, cells: DataFrame,
      table: String, nassign: Int = 2, numBuckets: Int = 32): Unit = {
    require(nassign >= 1 && nassign <= 8,
      s"nassign=$nassign out of range [1, 8]")
    val spark = corpus.sparkSession
    import spark.implicits._
    Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
      graft.sources.Sinks.dropTableAndLocation(spark, table + s))
    val cellTable = cells
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
    cellTable.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_centroids")
    val (flat, dim) = collectCentroids(spark.table(s"${table}_centroids"))
    val base = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    graft.sources.Sinks.writeBucketed(
      base.select(col("id"), col("v")), s"${table}_docs", Seq("id"), numBuckets)
    // Scale-adaptive posture (Similarity.ivfGroupProbePolicy): the build
    // routes the WHOLE corpus, so flat routing here is the Θ(n·ncells) =
    // Θ(n²) term the sf10 lifecycle audit caught (corpus ~180k × 2 813
    // cells × 64 dims ≈ 26 GFLOP per build). Every later stage (append,
    // probe, drift) derives the SAME router from this index's stored
    // centroid table, so assignments and probes can never disagree.
    val assigned = spark.table(s"${table}_docs").select(
      explode(routeCellsExpr(col("v"), flat, dim, nassign,
        Similarity.ivfGroupProbePolicy(flat.length / dim)))
        .as("cell"),
      col("id"))
    graft.sources.Sinks.writeBucketed(
      assigned, s"${table}_cells", Seq("cell"), numBuckets)
    // routing config travels WITH the index (the minhash `_meta`
    // discipline): appends must route new vectors exactly as the build
    // did, and nassign is the one knob the centroid table can't carry
    Seq((nassign, numBuckets)).toDF("nassign", "num_buckets")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(s"${table}_meta")
  }

  /** Delta-append (merge) into a PERSISTED semantic-IVF index
    * ([[writeSemanticIvfIndex]]) — the embedding-space mirror of
    * [[appendToMinHashIndex]] and the maintenance quarter of the
    * lifecycle (build-once → probe → coherence/staleness audits →
    * MERGE). New vectors route through the index's FROZEN quantizer
    * (its own stored `_centroids`, the same embedded-matrix
    * zero-shuffle map every probe uses) and their `(id, v)` /
    * `(cell, id)` rows append through [[appendToIndex]] (idempotent on
    * id; `_cells` first, `_docs` last as the commit record) — the
    * standing corpus is never re-routed or rewritten, and the
    * post-merge index is bit-identical to a full rebuild over
    * corpus ∪ delta under the same centroids (the
    * dedup_semantic_ivf_merge oracle certifies this end-to-end).
    * Whether the frozen quantizer is still the RIGHT one for what's
    * arriving is exactly what [[semanticIvfIndexDrift]] measures —
    * merge and drift-audit are the two halves of steady-state index
    * operation.
    *
    * Routing config is enforced from the index's `_meta` row — a
    * mixed-nassign append would corrupt every later probe's candidate
    * sets, so it refuses.
    */
  def appendToSemanticIvfIndex(
      delta: DataFrame, idCol: String, vecCol: String, table: String,
      nassign: Int = 2): Unit = {
    require(nassign >= 1 && nassign <= 8,
      s"nassign=$nassign out of range [1, 8]")
    val spark = delta.sparkSession
    val meta = indexMeta(spark, table, Seq("nassign", "num_buckets"))
    val mn = meta.getAs[Int]("nassign")
    require(mn == nassign,
      s"index $table was built with nassign=$mn but the append supplied " +
        s"nassign=$nassign — mixed-config indexes would corrupt every probe")
    val (flat, dim) = collectCentroids(spark.table(s"${table}_centroids"))
    appendToIndex(delta.select(col(idCol).as("id"), col(vecCol).as("v")),
      table, semanticIvfLayout, meta.getAs[Int]("num_buckets"), identity,
      _.select(
        explode(routeCellsExpr(col("v"), flat, dim, nassign,
          Similarity.ivfGroupProbePolicy(flat.length / dim)))
          .as("cell"),
        col("id")))
  }

  /** Incremental semantic probe against a PERSISTED index
    * ([[writeSemanticIvfIndex]]): the new batch routes through the
    * index's OWN centroid table (read back, embedded in the routing
    * expression) and candidate pairs come from the equi-join of the
    * batch's cells against the bucketed corpus assignments — the corpus
    * is never re-routed, never re-shuffled (ScaleSpec pins the
    * exchange-free plan). The [[dropOversized]] guard counts the CORPUS
    * side's cells. Returns verified (id_new, id_corpus, cosine), the
    * [[semanticNearDupsAgainst]] contract.
    */
  def semanticNearDupsIvfAgainstIndex(
      newBatch: DataFrame, idCol: String, vecCol: String, threshold: Double,
      table: String, nassign: Int = 2,
      maxCellSize: Long = 1000000L, nprobe: Int = 0): DataFrame = {
    require(nassign >= 1 && nassign <= 8,
      s"nassign=$nassign out of range [1, 8]")
    // `nprobe` (0 = probe depth == nassign, the symmetric default every
    // pre-round-13 caller keeps) decouples QUERY-side probe depth from
    // the index's assignment multiplicity — the standard IVF search
    // asymmetry (Jégou et al., PAMI'11 §III): the corpus pays nassign
    // rows per vector ONCE at build time, while each batch vector probes
    // its top-nprobe cells at strictly per-query cost (candidates ∝
    // nprobe · cell occupancy; the corpus side never re-routes). This is
    // the bounded-cost dial against the boundary-recall erosion
    // RECALL.json measures on refining partitions — size it with
    // Similarity.ivfProbeDepth (≈2× candidate volume at the sf3 audit
    // point) rather than guessing.
    require(nprobe >= 0 && nprobe <= 64,
      s"nprobe=$nprobe out of range [0, 64] (0 = symmetric: probe depth " +
        "= nassign; candidate volume scales linearly with it)")
    val depth = if (nprobe == 0) nassign else nprobe
    val spark = newBatch.sparkSession
    healIndexTables(spark, table)
    val (flat, dim) = collectCentroids(spark.table(s"${table}_centroids"))
    val nBase = newBatch.select(col(idCol).as("id"), col(vecCol).as("v"))
    val nAssigned = nBase.select(col("id"),
      explode(routeCellsExpr(col("v"), flat, dim, depth,
        Similarity.ivfGroupProbePolicy(flat.length / dim)))
        .as("cell"))
    val cPruned = dropOversized(spark.table(s"${table}_cells"), cellKey,
      maxCellSize)
    verifyPairs(candidatePairs(nAssigned, cPruned, cellKey, probePairs),
      probePairs, nBase, spark.table(s"${table}_docs"), vectorCosine, threshold)
  }

  /** Centroid-staleness audit for a persisted semantic-IVF index
    * ([[writeSemanticIvfIndex]]): measures how far the index's stored
    * centroids have drifted from the distribution of a NEW ingest batch,
    * as the ASSIGNMENT-SHIFT share — the fraction of batch vectors whose
    * index-routed cell disagrees with their fresh-routed cell after the
    * fresh centroids are matched to their nearest index centroid
    * (cosine argmax, the label-space bridge; [[Similarity
    * .assignToGroups]]). Fresh centroids come from the same bounded
    * deterministic k-means the production route trains
    * ([[Similarity.kmeansCentroids]] — hash-ordered sample, never a
    * data-sized collect), so the audit costs one parameter-sized k-means
    * over the BATCH plus two zero-shuffle routing maps.
    *
    * A batch drawn from the index's own distribution shifts little (the
    * matched fresh quantizer reproduces the index partition); a drifted
    * corpus — new topics, new embedding model — shifts a large share,
    * and past `shiftFloorPpm` the index's cell-local recall premise no
    * longer holds for the data actually arriving: re-cluster
    * (rebuild the index with fresh centroids) instead of probing on.
    * Default floor 200000 ppm (20 % of the batch re-assigned) — ScaleSpec
    * pins a same-distribution batch far below it and a rotated-cluster
    * batch far above.
    *
    * Returns ONE row `(n_routed, n_shifted, shift_floor_ppm,
    * recluster_recommended)`; integer comparisons only.
    *
    * `freshCentroids` (a parameter-sized `(cell, centroid)` frame)
    * substitutes an EXPLICIT fresh quantizer for the trained one — the
    * seeded-anchor form every ivf query uses for exact SQL replay (the
    * k-means leg is float-iterative and not bit-replayable across
    * engines); shift counting, the label bridge and both routing maps
    * are identical on either path.
    */
  def semanticIvfIndexDrift(
      newBatch: DataFrame, idCol: String, vecCol: String, table: String,
      shiftFloorPpm: Long = 200000L, iters: Int = 2, sampleSize: Int = 4096,
      seed: Long = 42L,
      freshCentroids: Option[DataFrame] = None): DataFrame = {
    require(shiftFloorPpm >= 0 && shiftFloorPpm <= 1000000L,
      s"shiftFloorPpm=$shiftFloorPpm must be in [0, 10⁶]")
    val spark = newBatch.sparkSession
    val (iflat, dim) = collectCentroids(spark.table(s"${table}_centroids"))
    val ncells = iflat.length / dim
    val fresh = freshCentroids.getOrElse(
      Similarity.kmeansCentroids(newBatch, vecCol, nlist = ncells,
        iters = iters, sampleSize = sampleSize, seed = seed))
    val (fflat, fdim) = collectCentroids(
      fresh.select(col("cell").cast("long").as("cell"), col("centroid")))
    require(fdim == dim,
      s"batch embedding dim $fdim != index centroid dim $dim")
    // label-space bridge: fresh centroid g → its nearest index centroid.
    // Two-level past 512 cells (the same policy as every routed map):
    // the flat bridge is O(ncells²·dim) driver time — the drift audit's
    // last n² term once the routed maps went two-level (round 14).
    val matched = Similarity.assignToCellsTwoLevel(fflat, dim, iflat,
      Similarity.ivfGroupProbePolicy(ncells))
    val base = newBatch.select(col(vecCol).as("v"))
    // the audit's two routing maps inherit the PRODUCTION posture
    // (two-level past 512 cells): flat top-1 costs ncells cosines per
    // row, and with a corpus-proportional batch (rows ∝ n) and
    // constant-occupancy cells (ncells ∝ n) the audit itself was the
    // Θ(n²) term the round-13 scaling audit flagged (4.53× on the 3×
    // sf1→sf3 step — SCALING_sf3.json's worst ratio). Two-level top-1 is
    // the IMI approximation of the argmax (exact whenever the best cell's
    // group is probed); the SHIFT statistic compares both quantizers
    // under the same router, and the gate scale (ncells ≤ 512,
    // OracleCouplingSpec) stays exactly flat, so the oracle replay is
    // unchanged.
    val gp = Similarity.ivfGroupProbePolicy(ncells)
    val routed = base.select(
        get(routeCellsExpr(col("v"), iflat, dim, 1, gp), lit(0))
          .as("idx_cell"),
        get(routeCellsExpr(col("v"), fflat, dim, 1, gp), lit(0))
          .as("fresh_cell"))
      .filter(col("idx_cell").isNotNull && col("fresh_cell").isNotNull)
      .select(col("idx_cell"),
        element_at(typedLit(matched.toSeq), col("fresh_cell") + lit(1))
          .as("matched_cell"))
    routed
      .agg(count(lit(1)).as("n_routed"),
        sum(when(col("idx_cell") =!= col("matched_cell"), 1L).otherwise(0L))
          .as("n_shifted"))
      .select(col("n_routed"), col("n_shifted"),
        lit(shiftFloorPpm).as("shift_floor_ppm"),
        (col("n_shifted") * lit(1000000L) >
          lit(shiftFloorPpm) * col("n_routed")).as("recluster_recommended"))
  }

  /** Routing expression over an embedded centroid matrix — ONE definition
    * shared by the in-plan route ([[semanticNearDupsIvf]]) and the drift
    * audit ([[semanticIvfIndexDrift]]), so every caller carries the same
    * cost shape. Top-nassign cell INDICES per vector as a pure map (index
    * order = cell id order because `collectCentroids` sorts by id; ties
    * break low-index = low-id — exactly the SQL replay's ORDER BY score
    * DESC, cell ASC). `groupProbe > 0` switches to the TWO-LEVEL router:
    * ⌈√ncells⌉ driver-clustered groups, top-groupProbe groups probed per
    * vector — per-row cost falls from ncells to ~(1 + groupProbe)·√ncells
    * cosines, the hierarchical shape the flat router's cost note
    * prescribes past ~10⁴ cells. groupProbe ≥ ngroups is bit-identical to
    * flat (exhaustive probe; pinned in SketchSpec); smaller values trade
    * the standard IMI recall loss (top cell inside an unprobed group).
    * The level-1 quantizer is an explicit SEEDED group table (fully
    * SQL-replayable — assignment is a deterministic cosine argmax over
    * two parameter tables) when supplied, else the driver k-means
    * (production default; float iteration, replay via the
    * exhaustive-probe ≡ flat reduction instead).
    */
  /** Memoized [[Similarity.groupCentroidsDriver]] for the two-level
    * router's production (k-means) branch. The grouping is a pure
    * deterministic function of the centroid matrix, and a steady-state
    * door probes the SAME persisted index every micro-batch — without
    * the memo each probe re-pays iters·ncells·√ncells·dim driver FLOPs
    * (irrelevant at the sf10 audit point, ~5.4 GFLOP ≈ seconds per
    * batch at the 2¹⁶ cell cap). Keyed by (dim, ngroups, full content):
    * hash for the bucket, `Arrays.equals` on hit — a collision can
    * therefore never return the wrong grouping. Bounded at 8 entries
    * (a JVM probes a handful of indexes), cleared wholesale when full;
    * values are immutable arrays shared read-only with the routing
    * expressions, which embed copies into the plan.
    */
  private val driverGroupsMemo =
    new java.util.concurrent.ConcurrentHashMap[
      (Int, Int, Int), (Array[Double], Array[Double], Array[Int])]()
  private def cachedDriverGroups(flat: Array[Double], dim: Int,
      ngroups: Int): (Array[Double], Array[Int]) = {
    val key = (dim, ngroups, java.util.Arrays.hashCode(flat))
    val hit = driverGroupsMemo.get(key)
    if (hit != null && java.util.Arrays.equals(hit._1, flat))
      return (hit._2, hit._3)
    val computed = Similarity.groupCentroidsDriver(flat, dim, ngroups)
    if (driverGroupsMemo.size >= 8) driverGroupsMemo.clear()
    driverGroupsMemo.put(key, (flat.clone(), computed._1, computed._2))
    computed
  }

  private def routeCellsExpr(v: Column, flat: Array[Double], dim: Int,
      nassign: Int, groupProbe: Int,
      groupCells: Option[DataFrame] = None): Column =
    if (groupProbe <= 0) VectorFunctions.ivfRouteCells(v, flat, dim, nassign)
    else {
      val ncells = flat.length / dim
      val (groups, groupOf) = groupCells match {
        case Some(gdf) =>
          val (gflat, gdim) = collectCentroids(gdf)
          require(gdim == dim,
            s"group centroid dim $gdim != cell centroid dim $dim")
          (gflat, Similarity.assignToGroups(flat, dim, gflat))
        case None =>
          val ngroups =
            math.max(1, math.ceil(math.sqrt(ncells.toDouble)).toInt)
          cachedDriverGroups(flat, dim, ngroups)
      }
      val ngroups = groups.length / dim
      val order = (0 until ncells).sortBy(i => (groupOf(i), i)).toArray
      val sizes = new Array[Int](ngroups)
      groupOf.foreach(gp => sizes(gp) += 1)
      val starts = new Array[Int](ngroups + 1)
      var g = 0
      while (g < ngroups) { starts(g + 1) = starts(g) + sizes(g); g += 1 }
      val regrouped = new Array[Double](flat.length)
      var p = 0
      while (p < ncells) {
        System.arraycopy(flat, order(p) * dim, regrouped, p * dim, dim)
        p += 1
      }
      VectorFunctions.ivfRouteCellsTwoLevel(v, groups, regrouped,
        order, starts, dim, groupProbe, nassign)
    }

  /** Collect a parameter-sized (cell, centroid) table into the flattened
    * id-sorted matrix the routing expressions embed — shared by the
    * in-plan and index-backed semantic-IVF paths so their routing is one
    * definition.
    */
  private def collectCentroids(cells: DataFrame): (Array[Double], Int) = {
    val cellRows = cells
      .select(col("cell").cast("long"), col("centroid").cast("array<double>"))
      .collect()
    require(cellRows.nonEmpty && cellRows.length <= (1 << 16),
      s"cells must be parameter-sized: got ${cellRows.length} rows " +
        s"(1 to ${1 << 16}); for larger quantizers route hierarchically")
    val sorted = cellRows.sortBy(_.getLong(0))
    require(sorted.iterator.map(_.getLong(0)).toSeq.distinct.length == sorted.length,
      "duplicate cell ids in the centroid table")
    val dim = sorted.head.getSeq[Double](1).length
    require(sorted.forall(_.getSeq[Double](1).length == dim),
      "all centroids must share one dimensionality")
    val flat = new Array[Double](sorted.length * dim)
    var ci = 0
    while (ci < sorted.length) {
      val cs = sorted(ci).getSeq[Double](1)
      var j = 0
      while (j < dim) { flat(ci * dim + j) = cs(j); j += 1 }
      ci += 1
    }
    (flat, dim)
  }

  /** Full semantic dedup map: EVERY embedding row mapped to its semantic
    * cluster's canonical (minimum) id — singletons map to themselves, and
    * `is_canonical` is the keep mask (`filter is_canonical = 1` is the
    * deduplicated corpus). Composition of [[semanticNearDups]] and
    * [[canonicalAssignments]]; the final left join is id-keyed and the
    * canonical map is one row per member of a dup cluster (tiny next to
    * the corpus).
    */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bandBits: Int = 8, numBands: Int = 16, seed: Long = 42L,
      maxBucketSize: Long = 100000L): DataFrame = {
    val pairs = semanticNearDups(emb, idCol, vecCol, threshold,
      bandBits, numBands, seed, maxBucketSize)
    val canon = canonicalAssignments(pairs)
    emb.select(col(idCol).as("id"))
      .join(canon, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("canonical_id"), col("id")).as("canonical_id"))
      .withColumn("is_canonical",
        (col("canonical_id") === col("id")).cast("int"))
  }

  /** Benchmark decontamination (the n-gram overlap rule of Brown et al.,
    * "Language Models are Few-Shot Learners", NeurIPS 2020, appendix C):
    * flag every corpus document sharing at least `minOverlap` distinct word
    * n-gram shingles with a benchmark/eval set, so training data can be
    * purged of test-set leakage before training. `corpusShingles` /
    * `benchShingles` are set-valued shingle columns over each frame (e.g.
    * [[graft.functions.ShingleFunctions.wordShingleHashes]], whose sorted
    * distinct output makes the join count a distinct-gram count for free).
    *
    * Scale shape: the benchmark side is eval suites — thousands of
    * documents, not terabytes — so its DISTINCT gram set is explicitly
    * broadcast and the corpus side never shuffles exploded grams: the
    * overlap count is a map-side broadcast-hash join plus one count
    * aggregation keyed by document id (partial map-side combine). Every
    * corpus document appears in the output, zero-count rows included, so
    * the result joins back as a keep/drop mask without a second pass.
    */
  /** Per-BENCHMARK-doc leakage report — the flip side of
    * [[decontaminate]]: for each benchmark document, how many corpus
    * documents share at least one n-gram with it (`n_docs_hit`) and how
    * many distinct (corpus doc, gram) pairs hit it (`n_gram_hits`).
    * Zero-hit benchmark rows are preserved so the report enumerates the
    * whole eval suite. Same scale shape as decontaminate: the benchmark
    * gram set is broadcast (eval suites are tiny next to the corpus; the
    * guard there applies here too), the corpus side streams map-only into
    * the join, and the final aggregation shuffles only matched pairs keyed
    * by benchmark id.
    */
  def decontaminateReport(
      corpus: DataFrame, idCol: String, corpusShingles: Column,
      benchmark: DataFrame, benchIdCol: String,
      benchShingles: Column): DataFrame = {
    // Both shingle families emit DISTINCT per-doc gram arrays, so the
    // exploded (id, g) pairs are already distinct — no dedup shuffle here.
    val bench = benchmark
      .select(col(benchIdCol).as("bench_id"), explode(benchShingles).as("g"))
    val hits = corpus
      .select(col(idCol).as("id"), explode(corpusShingles).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("id")).as("n_docs_hit"),
        count(lit(1)).as("n_gram_hits"))
    benchmark.select(col(benchIdCol).as("bench_id"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_docs_hit"), lit(0L)).as("n_docs_hit"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"))
  }

  /** Exact-substring duplication profile (the relational re-expression of
    * suffix-array substring dedup, Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022): for every document,
    * how many of its tokens sit inside a token span that also occurs
    * elsewhere in the corpus (or again in the same document).
    *
    * Method: every length-`k` token window is fingerprinted (md5-60 of
    * the space-joined slice); a window whose fingerprint occurs `minOcc`+
    * times corpus-wide is duplicated, and any duplicated substring of
    * length ≥ k marks exactly its covering windows, so the union of
    * flagged `[pos, pos+k)` windows — merged per document with the
    * gaps-and-islands coalesce of [[Intervals.mergeIntervals]] — is the
    * union of all duplicated substrings of length ≥ k. That is the same
    * span set the suffix-array approach removes, computed as three
    * shuffles instead of a global sort: (1) one hash-aggregate on the
    * 15-char window fingerprint (map-side partial combine), (2) one
    * equi-join of windows against the duplicated-fingerprint set (a mega-
    * hot boilerplate gram lands on one reducer — AQE skew split handles
    * it, and upstream [[graft.operators.CorpusFilters]] boilerplate
    * removal is the structural fix), (3) one per-document merge keyed by
    * id. The window frame is localCheckpoint-ed because it feeds both the
    * count and the join — without the cut the tokenize+slice pipeline
    * runs twice.
    *
    * Output, one row per input document (zero rows preserved so the
    * result is a keep/trim mask): `(id, n_words, dup_tokens, n_spans,
    * dup_ppm)` — all integers, reproducible under any partitioning.
    */
  def substringDupProfile(docs: DataFrame, idCol: String, textCol: Column,
                          k: Int, minOcc: Long = 2L): DataFrame = {
    require(k >= 2, s"k=$k must be >= 2")
    require(minOcc >= 2L, s"minOcc=$minOcc must be >= 2")
    // one md5 per k-token window makes the window build the operator's
    // CPU whale — spread the docs first (see Spread; the input is always
    // corpus-shaped here, unlike the door-batch MinHash path)
    val words = Spread.byKey(docs, col(idCol)).select(col(idCol).as("id"),
      split(textCol, " ").as("w"))
    // (id, pos, gh): one row per k-token window, pos 0-based token index;
    // slice is 1-based. Docs shorter than k emit no windows but stay in
    // the profile via the left join below.
    val wins = words
      .select(col("id"), size(col("w")).as("n_words"),
        when(size(col("w")) >= k,
          expr(s"transform(sequence(0, size(w) - $k), " +
            s"i -> struct(i AS pos, substring(md5(concat_ws(' ', slice(w, i + 1, $k))), 1, 15) AS gh))"))
          .otherwise(lit(null)).as("gs"))
      .select(col("id"), col("n_words"), explode_outer(col("gs")).as("g"))
      .select(col("id"), col("n_words"), col("g.pos").as("pos"),
        col("g.gh").as("gh"))
      .localCheckpoint(true)
    val dup = wins.filter(col("gh").isNotNull)
      .groupBy(col("gh")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc)
      .select(col("gh"))
    val spans = wins.join(dup, Seq("gh"))
      .select(col("id"), col("pos").as("s"), (col("pos") + k).as("e"))
    val merged = Intervals.mergeIntervals(spans, col("id"), col("s"), col("e"))
      .groupBy(col("key"))
      .agg(sum(col("end") - col("start")).as("dup_tokens"),
        count(lit(1)).as("n_spans"))
    words.select(col("id"), size(col("w")).cast("long").as("n_words"))
      .join(merged, col("id") === col("key"), "left")
      .select(col("id"), col("n_words"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"))
      .withColumn("dup_ppm",
        expr("dup_tokens * CAST(1000000 AS BIGINT) DIV n_words"))
  }

  def decontaminate(
      corpus: DataFrame, idCol: String, corpusShingles: Column,
      benchmark: DataFrame, benchShingles: Column,
      minOverlap: Long = 1L): DataFrame = {
    require(minOverlap >= 1L, s"minOverlap=$minOverlap must be >= 1")
    val bench = benchmark.select(explode(benchShingles).as("g")).distinct()
    val shared = corpus
      .select(col(idCol).as("id"), explode(corpusShingles).as("g"))
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared_grams"))
    corpus.select(col(idCol).as("id"))
      .join(shared, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        (coalesce(col("n_shared_grams"), lit(0L)) >= minOverlap)
          .cast("int").as("contaminated"))
  }

  /** Dedup-pipeline evaluation: estimated near-dup pairs (e.g. the
    * MinHash-LSH path) scored against an exact reference pair set (e.g.
    * [[prefixJaccardPairs]]) at the same threshold — TP/FP/FN counts and
    * precision/recall in exact ppm, the self-audit run before trusting an
    * approximate dedup config on a new corpus. One full-outer equi-join
    * on the (id_1, id_2) pair key plus a 1-row closing aggregate.
    *
    * Output: 1 row `(n_est, n_exact, tp, fp, fn, precision_ppm,
    * recall_ppm)`; NULL ratios for empty denominators.
    */
  def dedupEval(estimated: DataFrame, exact: DataFrame): DataFrame = {
    val e = estimated.select(col("id_1"), col("id_2"))
      .distinct().withColumn("__e", lit(1L))
    val x = exact.select(col("id_1"), col("id_2"))
      .distinct().withColumn("__x", lit(1L))
    e.join(x, Seq("id_1", "id_2"), "full_outer")
      .agg(
        sum(when(col("__e").isNotNull && col("__x").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__e").isNotNull && col("__x").isNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__e").isNull && col("__x").isNotNull, 1L)
          .otherwise(0L)).as("fn"))
      .select((col("tp") + col("fp")).as("n_est"),
        (col("tp") + col("fn")).as("n_exact"),
        col("tp"), col("fp"), col("fn"),
        expr("""CASE WHEN tp + fp = 0 THEN NULL
               |ELSE 1000000 * tp DIV (tp + fp) END""".stripMargin)
          .as("precision_ppm"),
        expr("""CASE WHEN tp + fn = 0 THEN NULL
               |ELSE 1000000 * tp DIV (tp + fn) END""".stripMargin)
          .as("recall_ppm"))
  }

  /** Dedup savings report — the capacity-planning numbers behind "what
    * does exact dedup buy us?": cluster-size histogram with, per
    * multiplicity, how many documents and how many bytes deduplication
    * would remove (copies beyond the first). Two hash aggregations —
    * content (use the fingerprint at scale, [[withFingerprint]]) then the
    * bounded multiplicity key.
    *
    * Output: `(n_copies, n_clusters, dup_docs, dup_bytes)`, one row per
    * observed multiplicity; singletons report zero savings.
    */
  def dedupSavings(df: DataFrame, contentCol: Column,
                   bytesCol: Column): DataFrame =
    df.select(contentCol.as("__c"), bytesCol.cast("long").as("__b"))
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("n_copies"), max(col("__b")).as("__bytes"))
      .groupBy(col("n_copies"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("n_copies") - 1).as("dup_docs"),
        sum((col("n_copies") - 1) * col("__bytes")).as("dup_bytes"))

  /** Cross-source contamination matrix — for every (source_a, source_b)
    * pair, how many distinct content fingerprints appear in BOTH: the
    * audit behind "Common Crawl re-crawls X% of the wiki dump" / "these
    * two vendors sold us the same data". The asymmetric containment is
    * reported from both directions in exact ppm against each side's
    * distinct-fingerprint count.
    *
    * Plan shape: one distinct on (source, fingerprint) (hash aggregate),
    * a self equi-join ON THE FINGERPRINT (hash-partitioned — never a
    * source×source cross; a fingerprint shared by k sources expands to
    * k² pairs, bounded by the source count, not the corpus), one count
    * aggregation on the pair key, and a broadcast of the per-source
    * totals (sources are configuration-scale). The fingerprint is the
    * shuffle key — 32 hex bytes, not document bytes.
    *
    * Output: `(source_a, source_b, n_shared, n_fp_a, n_fp_b,
    * contain_a_ppm, contain_b_ppm)` with source_a &lt; source_b and
    * contain_x_ppm = 10⁶·n_shared DIV n_fp_x.
    */
  def sourceOverlap(df: DataFrame, sourceCol: Column,
                    contentCol: Column): DataFrame = {
    val fps = df.select(sourceCol.as("src"),
        md5(contentCol.cast("string")).as("fp"))
      .distinct()
    val perSource = fps.groupBy(col("src")).agg(count(lit(1)).as("n_fp"))
    val pairs = fps.alias("x")
      .join(fps.alias("y"), col("x.fp") === col("y.fp") &&
        col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("source_a"), col("y.src").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(perSource.select(col("src").as("source_a"),
        col("n_fp").as("n_fp_a"))), Seq("source_a"))
      .join(broadcast(perSource.select(col("src").as("source_b"),
        col("n_fp").as("n_fp_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"),
        expr("1000000 * n_shared DIV n_fp_a").as("contain_a_ppm"),
        expr("1000000 * n_shared DIV n_fp_b").as("contain_b_ppm"))
  }

  /** Exact duplicated-substring spans of length ≥ `minLen` code points —
    * the suffix-ordering dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (ACL 2022): a position is duplicated
    * when its `minLen`-window occurs at ≥ 2 distinct (doc, offset) sites
    * anywhere in the corpus (other docs OR elsewhere in the same doc), and
    * runs of duplicated positions coalesce into maximal spans. EXACT — no
    * fingerprints, no hashing, no sampling — so it catches what
    * [[graft.operators.TextAnalysis.winnowedFingerprints]]-based
    * containment structurally cannot: a df-cut drops the corpus's
    * most-frequent grams, i.e. precisely the most-duplicated content.
    *
    * Distributed construction (no suffix array materialized): equality
    * classes of fixed-length windows by PREFIX DOUBLING over (doc, pos)
    * keys — the pointer-doubling machinery of
    * [[graft.operators.TextAnalysis.maxMatchSegmentsSharded]], applied to
    * Manber–Myers rank doubling. Round k holds, for every surviving
    * position, an equality LABEL for its 2^k-window (the label is the
    * class's minimum (doc, pos) struct — injective per class, a pure
    * function of the corpus); round k+1 relabels by the pair
    * (label[p], label[p + 2^k]). Because only EQUALITY is ever consulted
    * (never order), the labels need no global sort — and since equality
    * of 2^k-windows is just equality of the 2^k-char substrings, the
    * whole doubling ladder collapses: ONE relabel keyed on the
    * tgt = 2^⌈log₂⌈minLen/2⌉⌉-char substring (a single window-function
    * exchange over O(N) rows) replaces the per-power rounds, which early
    * on pruned almost nothing anyway. Positions whose window is
    * corpus-unique die as singleton classes.
    * The final window of exactly `minLen` is the standard composite of
    * two overlapping 2^k-windows (s ≥ minLen/2):
    * [p, p+s) ∪ [p+minLen−s, p+minLen).
    *
    * Output: (id, span_start, span_end, span_len) — 0-based code-point
    * offsets, end exclusive, one row per MAXIMAL duplicated span. The
    * closing islands window partitions by doc id (per-doc positions,
    * bounded by doc length — never a global window).
    *
    * Winnow prefilter (on by default, candidate-COMPLETE — the output is
    * bit-identical with it on or off): before the char explode, docs are
    * admitted only if they (a) share a winnowed fingerprint with another
    * doc, or (b) repeat a fingerprint value internally. The winnow
    * parameters are COUPLED to minLen — k = min(minLen, 64),
    * w = minLen − k + 1, so the guarantee length w + k − 1 equals minLen
    * exactly: any duplicated minLen-window's two occurrences each select
    * a common fingerprint, which lands the occurrences' docs in (a) (two
    * docs) or (b) (same doc); and every dyadic sub-window the doubling
    * consults lies inside the duplicated span, so its partner occurrence
    * is in an ADMITTED doc too — subset class counts never drop below 2
    * where the corpus-wide count was ≥ 2. NO df-cap anywhere: the
    * prefilter needs only per-fingerprint doc counts (linear postings
    * aggregation), never posting-list pair joins, so the df-cut blind
    * spot that motivates this operator does not reappear.
    *
    * k CHOICE is precision-critical, and was measured: a shared
    * fingerprint witnesses only a shared k-GRAM that both docs selected,
    * so small k admits on weak evidence — at k = 8 the sf1 fixture
    * admitted 100 % of docs (template text shares 8-grams pervasively)
    * and the prefilter was pure overhead; at k = minLen = 30 (w = 1, the
    * degenerate winnow = every 30-gram hash) admission is essentially
    * EXACT participation — 13 % at the gate, 31 % at sf1 — because a
    * shared fingerprint now witnesses a full shared minLen-window (up to
    * hash collisions, which only over-admit). The 64 cap bounds the
    * per-position hash cost at O(64 · chars) when minLen is large, while
    * keeping the witness ≥ a shared 64-gram.
    */
  def suffixDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           minLen: Int,
                           winnowPrefilter: Boolean = true,
                           hotClassSize: Long = 0L): DataFrame = {
    require(minLen >= 2 && minLen <= (1 << 20),
      s"minLen=$minLen out of [2, 2^20]")
    // Hot-class guard threshold for `relabel` (0 = off): classes larger
    // than this are labeled via partial-agg + broadcast instead of the
    // window, so corpus-wide boilerplate never co-locates on one task
    // (§2.5). Off by default at bench scale (the split pays 2 extra
    // passes over the position stream — pure overhead when no class is
    // hot); a 100 TB deployment sets SPARK_GRAFT_SUFFIX_HOT_CLASS to
    // ~100× the mean class size. DedupSimilaritySpec pins guard-on ≡
    // guard-off on a boilerplate-heavy fixture.
    val hotT: Long =
      if (hotClassSize > 0L) hotClassSize
      else sys.env.get("SPARK_GRAFT_SUFFIX_HOT_CLASS")
        .map(v => java.lang.Long.parseLong(v)).getOrElse(0L)
    val allDocs = df
      .select(col(idCol).as("id"), col(textCol).as("t"),
        length(col(textCol)).as("len"))
      .filter(col("len") >= minLen)
    val fpK = math.min(minLen, 64)
    val docs = if (!winnowPrefilter) allDocs else {
      val fpW = minLen - fpK + 1
      import graft.functions.WinnowFunctions
      val fp = allDocs.select(col("id"),
          WinnowFunctions.winnowedMd5Fingerprints(col("t"), fpK, fpW).as("fps"),
          WinnowFunctions.winnowInternalRepeat(col("t"), fpK, fpW).as("internal"))
        .localCheckpoint(true) // two consumers (postings, internal flag)
      val postings = fp.select(col("id"), explode(col("fps")).as("f"))
      // fps are distinct per doc, so count(*) per fingerprint IS its doc
      // count; fingerprints held by >= 2 docs admit all their holders
      val sharedFps = postings.groupBy(col("f"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 2).select(col("f"))
      val admitted = postings.join(sharedFps, Seq("f"))
        .select(col("id")).distinct()
        .union(fp.filter(col("internal")).select(col("id")))
        .distinct()
      allDocs.join(admitted, Seq("id"), "left_semi")
    }
    // Equality-preserving injective relabel + uniqueness pruning: each
    // (k1, k2) class gets min(struct(id, pos)) of its members as label;
    // singleton classes are dropped (their windows can never be part of a
    // duplicated longer window). ONE shuffle: both the class label and the
    // class size come from window functions over the same (k1, k2)
    // partitioning, so the former agg+join-back pair (two exchanges of the
    // full position frame per round) collapses into a single exchange.
    def relabel(keyed: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k1"), col("k2"))
      def windowed(part: DataFrame): DataFrame = part
        .withColumn("lab", min(struct(col("id"), col("pos"))).over(w))
        .withColumn("__n", count(lit(1)).over(w))
        .filter(col("__n") >= 2)
        .select(col("id"), col("pos"), col("lab"))
      if (hotT <= 0L) windowed(keyed)
      else {
        // §2.5 straggler guard: the window co-locates every member of a
        // class on one task, so a corpus-wide boilerplate window (the
        // exact content a dedup operator meets most) becomes one giant
        // task. Split on a NARROW hash key: classes above hotT go
        // through a partial-agg (few distinct keys — combines map-side
        // to one row per partition) whose tiny result broadcasts back;
        // everything else keeps the single-exchange window. A hash
        // collision only routes a cold class through the exact agg path
        // — same labels either way.
        val h = keyed.withColumn("__h", xxhash64(col("k1"), col("k2")))
        val hotKeys = h.groupBy(col("__h"))
          .agg(count(lit(1)).as("__hn")).filter(col("__hn") > hotT)
          .select(col("__h"))
        val hot = h.join(broadcast(hotKeys), Seq("__h"), "left_semi")
        val cold = h.join(broadcast(hotKeys), Seq("__h"), "left_anti")
          .drop("__h")
        val hotLabs = hot.groupBy(col("k1"), col("k2"))
          .agg(min(struct(col("id"), col("pos"))).as("lab"),
            count(lit(1)).as("__n"))
          .filter(col("__n") >= 2)
          .select(col("k1"), col("k2"), col("lab"))
        val hotLab = hot.join(broadcast(hotLabs), Seq("k1", "k2"))
          .select(col("id"), col("pos"), col("lab"))
        windowed(cold).unionByName(hotLab)
      }
    }

    // target window half-size: smallest power of two ≥ ⌈minLen/2⌉
    var tgt = 1
    while (tgt < (minLen + 1) / 2) tgt *= 2
    val s = tgt
    // Initial classes DIRECTLY on tgt-length windows: two positions share
    // a 2^k-window label iff their tgt-char substrings are equal, so the
    // progressive doubling's first log₂(tgt) rounds (each an O(N)-row
    // shuffle — and the EARLY rounds prune almost nothing, since short
    // windows are rarely corpus-unique) collapse into one relabel keyed on
    // the substring itself. Provably the same classes and labels: a
    // position whose tgt-window occurs ≥ 2 has every sub-window occurring
    // ≥ 2, so it survives every skipped round; a position any skipped
    // round would have pruned has a corpus-unique tgt-window and dies here
    // as a singleton class. (Guide §2.4: remove whole passes, not
    // per-pass cost.)
    //
    // The window substring is cut AFTER the position explode: exploding
    // the integer sequence and slicing per generated row keeps per-row
    // peak memory at O(len) (the position array) where the former
    // transform(sequence, substr) materialized the ~len × tgt-char window
    // ARRAY as one value before posexplode — an amplification ∝ tgt that
    // a long-document corpus cannot afford (§5). Same rows, same k1.
    val lab = relabel(docs
        .select(col("id"), col("t"),
          explode(sequence(lit(0), col("len") - tgt)).as("pos"))
        .select(col("id"), col("pos"),
          col("t").substr(col("pos") + lit(1), lit(tgt)).as("k1"))
        .withColumn("k2", lit(0L)))
      .localCheckpoint(true) // feeds the composite join both sides
    // composite at exactly minLen (s ≥ minLen − s, so the two windows tile)
    val partner = lab.select(col("id"),
      (col("pos") - (minLen - s)).as("pos"), col("lab").as("k2p"))
    val dupPos = relabel(lab.join(partner, Seq("id", "pos"))
        .select(col("id"), col("pos"), col("lab").as("k1"),
          col("k2p").as("k2")))
      .select(col("id"), col("pos"))

    // coalesce runs of duplicated window starts into maximal spans
    // (gaps-and-islands per doc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      .withColumn("__prev", lag(col("pos"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("pos") - col("__prev") > 1, 1L)
          .otherwise(0L))
      .withColumn("__grp", sum(col("__brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }
}
