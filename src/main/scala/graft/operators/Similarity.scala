package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (`array<float>`): exact
  * brute-force top-k as the correctness baseline, and four approximate
  * scale paths — banded random-hyperplane LSH (Charikar, STOC 2002; banding
  * / OR-amplification as in Mining of Massive Datasets ch. 3), IVF coarse
  * quantization (inverted-file probing), PQ-ADC (asymmetric distance over
  * product-quantized codes) and their composition IVFADC (all three as in
  * Jégou et al., "Product quantization for nearest neighbor search", TPAMI
  * 2011), each with a seeded, externally replayable twin. Distributed top-k
  * shapes follow the prune-then-rerank pattern surveyed in the retrieved
  * top-k literature (PAPERS.md: EDBT 2020 incremental top-k; ICDE 2021
  * REPOSE); every path ends in the same per-query cut (`topKPerQuery`).
  *
  * Candidate generation in every approximate path is an EQUI-join on a
  * small key (band signature / cell id / PQ code) — hash-partitionable at
  * 100 TB — never a nested-loop predicate join.
  *
  * Driver memory: the learned paths bring parameter-sized rows, never
  * corpus rows, to the driver. [[kmeansCentroids]] collects its sample,
  * at most max(sampleSize, nlist) rows × dim × 8 bytes (4096 × 768 × 8 ≈
  * 25 MB at the defaults); [[pqEncode]] collects the m·ksub codebook rows
  * of dsub doubles, ksub × dim × 8 bytes (16 × 768 × 8 ≈ 98 KB).
  */
object Similarity {

  /** Exact top-k neighbors for each query vector. Query side is broadcast
    * (queries ≪ corpus); the cosine predicate is a codegen'd native
    * expression, so the scan side stays in one whole-stage-codegen pipeline
    * and parallelizes over corpus partitions. Top-k per query via
    * row_number window, tie-broken by neighbor id for determinism.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    cosineTopK(broadcast(q).join(c, col("query_id") =!= col("neighbor_id")), k)
  }

  /** The per-query top-k cut every top-k path ends in: rank by score
    * descending with ties to the lower neighbor id (deterministic), keep
    * rank ≤ k and the contract columns (query_id, neighbor_id, rank,
    * score).
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
  }

  /** `topKPerQuery` over the exact cosine of each (qv, cv) pair. */
  private def cosineTopK(pairs: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      pairs.withColumn("score", VectorFunctions.cosine(col("qv"), col("cv"))), k)

  /** Recall audit of an ANN top-k result against the exact brute-force
    * scan, as a CHECKABLE per-query contract: one row per query with a
    * boolean `recall_ok` = (recall@k ≥ floorPpm/10⁶). This is how the
    * learned-quantizer paths (IVF / PQ-ADC / IVFADC, whose float-k-means
    * codebooks no external SQL engine can replay) still get a driver-
    * gateable output: the oracle asserts the CONTRACT — every query meets
    * the recall floor — rather than the impl-specific neighbor lists.
    *
    * Recall is tie-robust: a returned neighbor counts as a hit when its
    * TRUE cosine clears the query's k-th-best exact score (the standard
    * distance-threshold recall@k), so equal-score neighbors permuted at
    * the cut line can never flip the measurement. The comparison
    * `hits·10⁶ ≥ floor·n_exact` stays in integers — no division, no float
    * accumulation. At scale the audit costs one brute-force pass over the
    * corpus for the (bounded, broadcast) query set — the same O(|q|·n)
    * scan as [[bruteForceTopK]] — which is exactly the periodic
    * ground-truth sample a production ANN deployment runs anyway.
    *
    * `floorPpm` must leave real margin below the measured recall: the
    * learned codebooks are deterministic only up to float-sum shuffle
    * order, so a floor at the measured value would flicker with the last
    * ulp of a centroid mean.
    */
  def recallAudit(
      ann: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, floorPpm: Long): DataFrame = {
    require(floorPpm >= 0 && floorPpm <= 1000000L,
      s"floorPpm=$floorPpm must be in [0, 1000000]")
    perQueryHits(ann, corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), lit(k).as("k"),
        lit(floorPpm).as("recall_floor_ppm"),
        (col("hits") * lit(1000000L) >=
          lit(floorPpm) * col("n_exact")).as("recall_ok"))
  }

  /** Macro-recall variant of [[recallAudit]]: ONE summary row
    * `(n_queries, k, recall_floor_ppm, recall_ok)` where recall_ok =
    * (Σ hits · 10⁶ ≥ floor · Σ n_exact) over the whole query set. This is
    * the right grain for the learned ADC families on weakly-clustered
    * corpora: per-query hit counts of 1–3 sit within one centroid-jitter
    * flip of a per-query floor, while the pooled count has hit-count
    * margin proportional to |queries| — the contract stays deterministic
    * exactly because the floor's slack exceeds any single flip.
    */
  def recallAuditSummary(
      ann: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, floorPpm: Long): DataFrame = {
    require(floorPpm >= 0 && floorPpm <= 1000000L,
      s"floorPpm=$floorPpm must be in [0, 1000000]")
    perQueryHits(ann, corpus, queries, idCol, vecCol, k)
      .agg(count(lit(1)).as("n_queries"),
        sum(col("hits")).as("h"), sum(col("n_exact")).as("ne"))
      .select(col("n_queries"), lit(k).as("k"),
        lit(floorPpm).as("recall_floor_ppm"),
        (col("h") * lit(1000000L) >= lit(floorPpm) * col("ne"))
          .as("recall_ok"))
  }

  /** Shared audit core: per query, how many returned neighbors clear the
    * exact k-th-best score bar, with the exact result size as denominator
    * (n_exact < k when the corpus is smaller than k). One row per query
    * even when the ANN path returned nothing for it.
    */
  private def perQueryHits(
      ann: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val bar = exact.groupBy(col("query_id"))
      .agg(min(col("score")).as("kth_score"), count(lit(1)).as("n_exact"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    // distinct BEFORE scoring: a defective ANN path that returns the same
    // good neighbor twice within rank<=k must not double-count it — hits
    // could otherwise exceed n_exact and recall could read > 1.0.
    val trueScores = ann.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id")).distinct()
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("true_score", VectorFunctions.cosine(col("qv"), col("cv")))
    val hits = trueScores.join(broadcast(bar), Seq("query_id"))
      .groupBy(col("query_id"))
      .agg(sum(when(col("true_score") >= col("kth_score"), 1L).otherwise(0L))
        .as("hits"))
    q.select(col("query_id"))
      .join(hits, Seq("query_id"), "left")
      .join(broadcast(bar), Seq("query_id"), "left")
      .select(col("query_id"),
        // belt-and-braces cap: distinct ids can still all clear the bar in
        // a pathological tie plateau wider than k; recall stays <= 1.
        least(coalesce(col("hits"), lit(0L)),
          coalesce(col("n_exact"), lit(0L))).as("hits"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
  }

  /** Exact rerank of an ANN shortlist — the production IVFADC shape
    * (Jégou et al., TPAMI 2011 §V: ADC shortlist of R·k candidates, then
    * exact re-scoring of just those R·k): the compressed scan proposes,
    * the true metric disposes. Cost is |queries|·shortlist exact cosines —
    * independent of corpus size — which buys back most of the recall the
    * lossy ADC scores gave up (measured on the weakly-clustered fixture:
    * PQ m=8/ksub=16 recall@5 0.28 raw → 0.76 with a 64-candidate rerank).
    * `shortlist` must already be (query_id, neighbor_id, rank, …) with
    * rank covering the R·k candidates.
    */
  def exactRerank(
      shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    cosineTopK(shortlist.select(col("query_id"), col("neighbor_id"))
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id")), k)
  }

  /** k-NN majority-vote label assignment — the label-spreading /
    * weak-supervision primitive of a training-data pipeline: each
    * unlabeled query vector takes the modal label of its `k` exact
    * cosine nearest neighbors in the labeled corpus. Built on
    * [[bruteForceTopK]] (broadcast query side, corpus scanned once, per-
    * query partitioned window — no global sort); the vote argmax is a
    * `max(struct(votes, −label))` aggregate, not a second window, and
    * ties break to the SMALLEST label deterministically.
    *
    * Output: `(query_id, pred_label, votes)` — votes = how many of the k
    * neighbors carry the winning label.
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    // queries×k rows after the top-k cut — broadcast against the corpus
    val neighbors = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    broadcast(neighbors)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__lab")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lab"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("__votes").as("v"), (-col("__lab")).as("nl")))
        .as("__w"))
      .select(col("query_id"), (-col("__w.nl")).as("pred_label"),
        col("__w.v").as("votes"))
  }

  /** Deterministic random hyperplanes (standard normal components) from a
    * fixed seed; `java.util.Random.nextGaussian` is algorithmically
    * specified, so signatures are identical across JVMs.
    */
  def hyperplanes(dim: Int, numPlanes: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Corpus-size-adaptive banded-LSH geometry — the standard scaling rule
    * the sf1 empirical audit demanded (SCALING.json round 7): with FIXED
    * `bandBits` the expected candidate volume is
    * `numBands · n² / 2^(bandBits+1)` — quadratic in n (measured: the
    * 8-bit/16-band semantic config grew 100× collisions for a 10× corpus
    * step). The cure is textbook LSH parameter scaling:
    *
    *  1. `bandBits = max(baseBits, ⌈log₂(n / targetOccupancy)⌉)` — bucket
    *     count tracks n, holding EXPECTED BUCKET OCCUPANCY (and therefore
    *     per-band candidate volume ∝ occupancy·n) constant;
    *  2. `numBands = ⌈baseBands / p^Δ⌉` where `p = 1 − acos(τ)/π` is the
    *     per-plane agreement probability at the operating similarity τ and
    *     `Δ = bandBits − baseBits` — band count grows to hold
    *     `numBands · p^bandBits` (the expected true-pair collision count,
    *     the union-bound recall driver) CONSTANT as bands narrow;
    *  3. `numBands` capped at `maxBands` — at low τ (wide angles, p small)
    *     full compensation is exponentially expensive; past the cap the
    *     geometry favors bounded cost over recall, which is the right
    *     trade at a τ below the operator's production regime (SemDeDup
    *     runs at τ ≥ 0.7 where the cap never binds until corpus ≫ 10⁹).
    *
    * Below the occupancy knee (small n) this returns EXACTLY
    * (baseBits, baseBands) — the correctness gate's configuration is
    * unchanged by adaptivity. The driver-side `acos`/`ceil` only PICK
    * integer parameters; the parameters themselves are recorded in the
    * plan (plane literals), so the query stays replayable.
    */
  def lshGeometry(n: Long, tau: Double, baseBits: Int, baseBands: Int,
                  targetOccupancy: Long = 8L, maxBits: Int = 24,
                  maxBands: Int = 64): (Int, Int) = {
    require(baseBits >= 1 && baseBits <= maxBits && baseBands >= 1,
      s"bad base geometry ($baseBits, $baseBands)")
    require(targetOccupancy >= 1, s"bad occupancy $targetOccupancy")
    val needed = if (n <= targetOccupancy) baseBits
      else 64 - java.lang.Long.numberOfLeadingZeros(
        (n + targetOccupancy - 1) / targetOccupancy - 1)
    val bits = math.min(maxBits, math.max(baseBits, needed))
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val bands =
      if (bits == baseBits || p <= 0.0) baseBands
      else math.min(maxBands.toLong,
        math.ceil(baseBands / math.pow(p, (bits - baseBits).toDouble)).toLong).toInt
    (bits, math.max(baseBands, bands))
  }

  /** Closed-form expected candidate recall of banded hyperplane LSH for a
    * pair at cosine `c`: per-plane agreement p = 1 − acos(c)/π, per-band
    * collision p^bits, any-of-bands P = 1 − (1 − p^bits)^bands. Evaluated
    * at c = τ it LOWER-bounds recall over the pair population above τ
    * (P is increasing in c). The RecallBench harness checks the measured
    * curves against this form.
    */
  def lshExpectedRecall(bits: Int, bands: Int, c: Double): Double = {
    require(bits >= 1 && bands >= 1, s"bad geometry ($bits, $bands)")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, bits.toDouble), bands.toDouble)
  }

  /** Recall-floor mode for the adaptive geometry: the band count that
    * guarantees expected candidate recall ≥ `recallFloor` at cosine τ for
    * the given `bits` — `⌈ln(1−floor) / ln(1−p^bits)⌉`, UNCAPPED. This is
    * the explicit alternative to [[lshGeometry]]'s maxBands cap: the cap
    * bounds cost and lets recall decay past it; this bounds recall and
    * lets cost grow. The cost is exactly the n^ρ story measured in
    * SCALE.md — at τ = 0.4, bits = 12 (the n = 20 000 geometry) holding
    * 0.9 recall needs ~575 bands vs the cap's 64, a 9× candidate-volume
    * multiplier that keeps COMPOUNDING as bits track log n. `maxBands`
    * here is a hard sanity bound (refuse, not truncate): hitting it means
    * this operating point should route through
    * [[graft.operators.Dedup.semanticNearDupsIvf]] instead, whose
    * candidate volume is occupancy-bound and does not depend on τ.
    */
  def lshBandsForRecall(bits: Int, tau: Double, recallFloor: Double,
                        maxBands: Int = 4096): Int = {
    require(recallFloor > 0.0 && recallFloor < 1.0,
      s"recallFloor=$recallFloor must be in (0, 1)")
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, tau))) / math.Pi
    val pb = math.pow(p, bits.toDouble)
    require(pb > 0.0, s"p^bits underflowed at bits=$bits, tau=$tau")
    val bands = math.ceil(math.log1p(-recallFloor) / math.log1p(-pb))
    require(bands <= maxBands,
      f"recall floor $recallFloor%.2f at tau=$tau%.2f, bits=$bits needs " +
        f"$bands%.0f bands (> sanity bound $maxBands): this operating " +
        "point is past the economical LSH regime — route through " +
        "Dedup.semanticNearDupsIvf (cell-local candidates) instead")
    math.max(1, bands.toInt)
  }

  /** Deterministic DRIVER-side k-means over a parameter-sized flattened
    * centroid matrix — the level-1 quantizer of the two-level router
    * ([[graft.operators.Dedup.semanticNearDupsIvf]] with groupProbe > 0).
    * Clustering CENTROIDS is driver work by design: the cell table is a
    * parameter (≤ 2¹⁶ rows by the caller's contract), so this is the one
    * k-means in the engine that never touches an executor. Cosine
    * assignment (ties to the lowest group), component-mean update, empty
    * groups keep their previous centroid; init = evenly strided cells.
    * Returns (flat group centroids, groupOfCell) — pure function of the
    * input, bit-deterministic.
    */
  def groupCentroidsDriver(cells: Array[Double], dim: Int, ngroups: Int,
                           iters: Int = 5): (Array[Double], Array[Int]) = {
    require(dim >= 1 && cells.length % dim == 0 && cells.length > 0,
      s"cells length ${cells.length} must be a positive multiple of dim=$dim")
    val ncells = cells.length / dim
    val g = math.max(1, math.min(ngroups, ncells))
    val groups = new Array[Double](g * dim)
    var gi = 0
    while (gi < g) { // strided init — spread over the cell order
      val src = (gi.toLong * ncells / g).toInt * dim
      System.arraycopy(cells, src, groups, gi * dim, dim)
      gi += 1
    }
    val assign = new Array[Int](ncells)
    def cos(aOff: Int, a: Array[Double], bOff: Int, b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < dim) {
        val x = a(aOff + j); val y = b(bOff + j)
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    var it = 0
    while (it < iters) {
      var c = 0
      while (c < ncells) {
        var best = 0; var bestS = Double.NegativeInfinity
        var k = 0
        while (k < g) {
          val s = cos(c * dim, cells, k * dim, groups)
          if (s > bestS) { bestS = s; best = k }
          k += 1
        }
        assign(c) = best
        c += 1
      }
      val sums = new Array[Double](g * dim)
      val counts = new Array[Int](g)
      var c2 = 0
      while (c2 < ncells) {
        val k = assign(c2); counts(k) += 1
        var j = 0
        while (j < dim) { sums(k * dim + j) += cells(c2 * dim + j); j += 1 }
        c2 += 1
      }
      var k2 = 0
      while (k2 < g) {
        if (counts(k2) > 0) {
          var j = 0
          while (j < dim) {
            groups(k2 * dim + j) = sums(k2 * dim + j) / counts(k2); j += 1
          }
        }
        k2 += 1
      }
      it += 1
    }
    // final assignment against the final group centroids
    var c3 = 0
    while (c3 < ncells) {
      var best = 0; var bestS = Double.NegativeInfinity
      var k = 0
      while (k < g) {
        val s = cos(c3 * dim, cells, k * dim, groups)
        if (s > bestS) { bestS = s; best = k }
        k += 1
      }
      assign(c3) = best
      c3 += 1
    }
    (groups, assign)
  }

  /** Deterministic cosine-argmax assignment of each cell centroid to a
    * group centroid — the SEEDED-groups leg of the two-level router:
    * when the level-1 quantizer is an explicit parameter table (anchor
    * rows, not k-means output), the only remaining derived state is this
    * argmax, which any SQL engine replays as
    * `row_number() OVER (ORDER BY cosine DESC, grp ASC) = 1` with the
    * same fixed-order double arithmetic (dot and norms are sequential
    * folds on both engines). Ties break to the LOWEST group index
    * (strict `>` on an index-ordered scan).
    */
  def assignToGroups(cells: Array[Double], dim: Int,
                     groups: Array[Double]): Array[Int] = {
    require(dim >= 1 && cells.length % dim == 0 && cells.length > 0 &&
      groups.length % dim == 0 && groups.length > 0,
      s"cells=${cells.length}/groups=${groups.length} must be positive " +
        s"multiples of dim=$dim")
    val ncells = cells.length / dim
    val g = groups.length / dim
    def cos(aOff: Int, a: Array[Double], bOff: Int, b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < dim) {
        val x = a(aOff + j); val y = b(bOff + j)
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val assign = new Array[Int](ncells)
    var c = 0
    while (c < ncells) {
      var best = 0; var bestS = Double.NegativeInfinity
      var k = 0
      while (k < g) {
        val s = cos(c * dim, cells, k * dim, groups)
        if (s > bestS) { bestS = s; best = k }
        k += 1
      }
      assign(c) = best
      c += 1
    }
    assign
  }

  /** Driver-side nearest-CELL assignment with the two-level posture:
    * [[assignToGroups]] over two ncells-sized matrices is O(ncells²·dim)
    * on the driver, and that was the one n² term left in the drift
    * audit's label bridge after round 14 moved every ROUTED map to the
    * policy — subdominant at the sf10 audit point (3 125² ≈ 10M cosines)
    * but 4.3G cosines at the 2¹⁶ cell cap, minutes of single-threaded
    * driver time a 100 TB deployment cannot pay per ingest batch. With
    * `groupProbe > 0` each point scores the ⌈√ncells⌉ driver-clustered
    * groups, keeps the top `groupProbe` (score DESC, group index ASC —
    * the routed maps' exact tie discipline), and argmaxes only over
    * those groups' member cells: O(ncells^1.5·dim) total, ~16M cosines
    * at the cap. `groupProbe <= 0` (the policy below 512 cells) is the
    * exact flat argmax, so gate-scale replays are bit-identical; the
    * groups come from the same deterministic [[groupCentroidsDriver]]
    * the routing expressions embed, so the bridge approximates the
    * argmax exactly where routing does (IMI boundary cases).
    */
  def assignToCellsTwoLevel(points: Array[Double], dim: Int,
                            cells: Array[Double],
                            groupProbe: Int): Array[Int] = {
    if (groupProbe <= 0) return assignToGroups(points, dim, cells)
    val ncells = cells.length / dim
    val npts = points.length / dim
    val ngroups = math.max(1, math.ceil(math.sqrt(ncells.toDouble)).toInt)
    val (groups, groupOf) = groupCentroidsDriver(cells, dim, ngroups)
    val g = groups.length / dim
    val members = Array.fill(g)(new scala.collection.mutable.ArrayBuffer[Int]())
    var c0 = 0
    while (c0 < ncells) { members(groupOf(c0)) += c0; c0 += 1 }
    def cos(aOff: Int, a: Array[Double], bOff: Int, b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < dim) {
        val x = a(aOff + j); val y = b(bOff + j)
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probe = math.min(groupProbe, g)
    val assign = new Array[Int](npts)
    var p = 0
    while (p < npts) {
      // top-probe groups by score DESC, index ASC (stable sort on a
      // strict-> selection reproduces the routed maps' discipline)
      val gScores = Array.tabulate(g)(k => (cos(p * dim, points, k * dim,
        groups), k))
      val top = gScores.sortBy { case (s, k) => (-s, k) }.take(probe)
      var best = -1; var bestS = Double.NegativeInfinity
      top.foreach { case (_, k) =>
        members(k).foreach { c =>
          val s = cos(p * dim, points, c * dim, cells)
          if (s > bestS || (s == bestS && (best < 0 || c < best))) {
            bestS = s; best = c
          }
        }
      }
      // a probed group is never empty in practice (k-means keeps its
      // seed), but guard: fall back to the exact argmax for this point
      if (best < 0) {
        var k = 0
        while (k < ncells) {
          val s = cos(p * dim, points, k * dim, cells)
          if (s > bestS) { bestS = s; best = k }
          k += 1
        }
      }
      assign(p) = best
      p += 1
    }
    assign
  }

  /** Corpus-adaptive IVF cell count for cell-local dedup
    * ([[Dedup.semanticNearDupsIvf]]): `⌈n / targetCellSize⌉` clamped to
    * [minCells, maxCells], so expected cell occupancy — and with it the
    * within-cell pair volume `ncells · (n/ncells)² / 2 = n·target/2` —
    * stays LINEAR in n. This is the complexity contrast with
    * [[lshGeometry]]: recall-compensated LSH pays n^(1+ρ) in candidates
    * as bands widen, while cell-local candidates are n·target/2 at every
    * scale (recall instead degrades only at cell BOUNDARIES, bought back
    * by multi-assignment). At the sf0.01 gate (n = 500, target 64) this
    * resolves to exactly `minCells` = 8 — the oracle's pinned
    * configuration (OracleCouplingSpec).
    *
    * `maxCells` defaults to 2¹⁶ — the same bound `collectCentroids`
    * enforces on the driver-held centroid table, so the cell count an
    * operator derives here can never exceed what routing will accept.
    * Past ~2¹⁶·targetCellSize vectors, grow `targetCellSize` (cost rises
    * linearly, n·target/2) or switch to the two-level router
    * ([[groupCentroids]] / `IvfRouteCellsTwoLevel`), whose per-row FLOPs
    * stay ~(1+g)·√ncells.
    */
  def ivfCellCount(n: Long, targetCellSize: Long = 64L, minCells: Int = 8,
                   maxCells: Int = 1 << 16): Int = {
    require(targetCellSize >= 1 && minCells >= 1 && maxCells >= minCells,
      s"bad cell policy (target=$targetCellSize, min=$minCells, max=$maxCells)")
    val needed = (n + targetCellSize - 1) / targetCellSize
    math.min(maxCells.toLong, math.max(minCells.toLong, needed)).toInt
  }

  /** The ONE routing-posture rule every semantic-IVF surface derives its
    * two-level switch from: flat routing up to 512 cells, two-level
    * (groupProbe = 8 of the ⌈√ncells⌉ coarse groups) past it. Flat
    * routing costs O(ncells) cosines per routed row, and with
    * constant-occupancy cells (ncells ∝ n) any stage that routes a
    * corpus-proportional row set — the in-plan route, the index BUILD,
    * a corpus-proportional delta-append or probe batch — turns Θ(n²);
    * two-level drops the per-row cost to ~(1 + 8)·√ncells, i.e. ~9·√n
    * FLOPs, for the measured IMI boundary loss (RECALL.json ivf_km2l:
    * ≤ 2.2 pp vs flat at the audited scales, gated by RobustnessSpec).
    * 512 is the break-even-ish point: (1+8)·√512 ≈ 204 < 512, and below
    * it the exhaustive map is both cheaper and bit-replayable in SQL —
    * the sf0.01 oracle gate (ncells = 8) always resolves to flat, so
    * every DuckDB replay of routing stays exact. Centralized so BUILD,
    * APPEND, PROBE, drift audit and the declared queries can never
    * disagree: all derive the same groups from the same id-sorted
    * centroid matrix ([[groupCentroidsDriver]] is deterministic), and a
    * posture mismatch between index content and probe routing would
    * silently cost recall.
    */
  def ivfGroupProbePolicy(ncells: Int): Int = if (ncells > 512) 8 else 0

  /** Adaptive QUERY-side probe depth for the asymmetric persisted-index
    * probe ([[Dedup.semanticNearDupsIvfAgainstIndex]]'s `nprobe`): the
    * corpus stays indexed at `nassign` cells per vector (storage cost,
    * paid once), while each QUERY probes `max(nassign, ⌈√ncells / 8⌉)`
    * cells, capped at 8 — the standard IVF asymmetry (Jégou et al.,
    * PAMI'11 §III: nprobe ≫ assignment multiplicity at search time).
    *
    * Why this curve: with constant target occupancy, boundary-pair loss
    * grows as the Voronoi partition refines (ncells ∝ n), and RECALL.json
    * (round 12) measured the consequence — probe recall at τ=0.4 falling
    * 0.455 → 0.158 → 0.092 across sf0.1/sf1/sf3 while probe COST stayed
    * ~flat. Probing more cells per query buys boundary recall back at
    * strictly linear per-query cost (candidates ∝ nprobe·occupancy):
    * √ncells/8 resolves to 2/2/3/4 at ncells = 8/29/282/844 (the audited
    * scales), i.e. ≤2× the nassign=2 probe cost exactly where the cliff
    * is steepest, and the cap bounds the dial at 4×. Recall parity with
    * a quadratically densifying truth set is NOT achievable at bounded
    * cost (that needs nprobe ∝ ncells — a corpus scan); this dial is the
    * measured-cost half of the answer, the scale-indexed floor
    * ([[ivfPairRecallFloorPpm]]) the declared-contract half.
    */
  def ivfProbeDepth(ncells: Int, nassign: Int = 2): Int = {
    require(ncells >= 1 && nassign >= 1,
      s"ivfProbeDepth(ncells=$ncells, nassign=$nassign): both must be >= 1")
    math.min(8, math.max(nassign, math.ceil(math.sqrt(ncells) / 8.0).toInt))
  }

  /** Scale-indexed pair-recall floor (ppm) for the seeded flat-IVF dedup
    * family (`dedup_semantic_ivf*`) on a WEAKLY-CLUSTERED corpus at LOW
    * τ — the SURVIVAL bound half of the recall contract, sized from the
    * round-12/13 RECALL.json measurements at τ=0.4 on the synthetic
    * fixture (found/truth: ~0.43 at n=2 000, ~0.16 at n=20 000, ~0.10 at
    * n=60 000) with ~⅓ margin below each measured point. The floor FALLS
    * with n by design: the fixture's true-pair density grows
    * quadratically (truth 920 → 97 349 → 888 770 while n grows 10×/30×)
    * and a constant-occupancy Voronoi partition mathematically cannot
    * track it.
    *
    * This bound is τ-SPECIFIC, and low τ is not where the operator
    * lives: clustering helps exactly as far as true pairs are
    * in-cluster. At the SemDeDup operating threshold (τ=0.8, in-cluster
    * pairs by construction) the same route measures 0.948–0.9998 at
    * n = 20 000 / 60 000 (RECALL_CLUSTERED.json `ivf_*@0.8` legs) —
    * that regime carries its own declared floor,
    * [[ivfClusteredPairRecallFloorPpm]], gated by
    * `dedup_semantic_ivf_recall08`. But even CLUSTERED truth erodes when
    * τ drops below the in-cluster band: RECALL.json's clustered legs
    * read 0.190 at τ=0.4 and 0.518 at τ=0.5 at n = 60 000 (`ivf_km@0.4`
    * / `ivf_km@0.5`) — cross-cluster true pairs are invisible to
    * cell-local candidates no matter how clean the clustering. So: this
    * floor certifies survival at τ=0.4; quality is certified at τ=0.8 by
    * the clustered gate; between them, escalate to multi-probe LSH
    * ([[Dedup.semanticNearDups]] probeDepth ≥ 1 — 0.73–0.97 there).
    * Piecewise-constant so the DuckDB oracle replays it as a CASE
    * expression — no float crosses the gate.
    */
  def ivfPairRecallFloorPpm(n: Long): Long =
    if (n <= 1000L) 450000L
    else if (n <= 4000L) 250000L
    else if (n <= 30000L) 100000L
    else 60000L

  /** Pair-recall floor (ppm) for the IVF dedup family in its OPERATING
    * regime — clustered truth at the SemDeDup threshold (Abbas et al.
    * 2023 dedup inside k-means cells at in-cluster cosine ≈ 0.8+): the
    * quality half of the recall contract, beside
    * [[ivfPairRecallFloorPpm]]'s low-τ survival half. Constant 0.95 at
    * every scale, NOT falling with n: when true pairs are in-cluster,
    * a coherently-routed tight cluster keeps its pairs cell-local as
    * the partition refines, so recall has no structural reason to
    * erode. Measured: 0.948–0.9998 at n = 20 000 / 60 000 on the
    * clustered RecallBench corpora (RECALL_CLUSTERED.json `ivf_*@0.8`),
    * 0.984–0.9995 on the derived clustered gate fixture at
    * n = 500 / 2 000 ([[Dedup.clusteredEmbeddingView]]). Declared and
    * oracle-replayed by `dedup_semantic_ivf_recall08`.
    */
  def ivfClusteredPairRecallFloorPpm: Long = 950000L

  /** Deterministic ±1 projection signs from the md5 convention
    * (`('0x' || substr(md5('seed|i|j'), 1, 15))::BIGINT % 2`) — the ONE
    * definition both the Spark literals and the SQL oracle derive from,
    * so any engine regenerates the identical matrix from (seed, shape).
    */
  def projectionSigns(dim: Int, outDims: Int,
                      seed: Long = 42L): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDims)(j => Array.tabulate(dim) { i =>
      val hex = md.digest(s"$seed|$i|$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    })
  }

  /** Per-class embedding-centroid drift between two corpus slices — the
    * monitoring primitive for "did this class's embedding distribution
    * move between snapshots / data sources?". For each label the L1
    * distance between the two slices' mean vectors is reported as an
    * EXACT integer after clearing denominators:
    *
    *   l1_num = Σ_d |S_a[d]·n_b − S_b[d]·n_a|,  true L1 = l1_num/(n_a·n_b)
    *
    * with S the per-dim sums of floored fixed-point coordinates (float
    * ×10⁶ exact in a double, floor portable). Sums are order-independent
    * integers — engine- and partitioning-exact; DECIMAL(38,0) carries the
    * cross products.
    *
    * Plan shape: posexplode → one hash aggregation on (label, dim) with
    * conditional slice sums → one dims-sized aggregation per label. The
    * corpus is touched once; aggregate key space is labels × dim.
    *
    * Output: `(label, n_a, n_b, l1_num, shift_milli)` where shift_milli
    * = ⌊1000·l1_num/(n_a·n_b·dim·10⁶)⌋ — the per-dimension mean absolute
    * shift in milli-units of the original coordinate scale. NULL when a
    * slice is empty for the label. `l1_num` is reported as BIGINT and
    * NULLs past 2⁶³ (≈4·10⁵ unit-scale vectors per label per slice —
    * the documented contract; `shift_milli` divides inside DECIMAL and
    * stays exact regardless). Rows whose vector is shorter than `dim`
    * are EXCLUDED (a silent `slice` truncation would skew per-dim
    * counts and break the constant-n carry — mirror the predicate in
    * any external replay).
    */
  def centroidShift(df: DataFrame, labelCol: Column, splitCol: Column,
                    vecCol: Column, dim: Int): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    val fixed = transform(slice(vecCol, 1, dim),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val exploded = df.filter(size(vecCol) >= dim)
      .select(labelCol.as("label"),
        splitCol.cast("int").as("sp"), posexplode(fixed).as(Seq("d", "xi")))
    val perDim = exploded.groupBy(col("label"), col("d"))
      .agg(sum(when(col("sp") === 0, col("xi")).otherwise(0L)).as("sa"),
        sum(when(col("sp") =!= 0, col("xi")).otherwise(0L)).as("sb"),
        sum(when(col("sp") === 0, 1L).otherwise(0L)).as("na"),
        sum(when(col("sp") =!= 0, 1L).otherwise(0L)).as("nb"))
    // na/nb are constant across a label's dims (every row emits all dims);
    // max() just carries them through the reduce
    perDim.groupBy(col("label"))
      .agg(max(col("na")).as("__nad"), max(col("nb")).as("__nbd"),
        sum(expr("abs(CAST(sa AS DECIMAL(38,0)) * nb - " +
          "CAST(sb AS DECIMAL(38,0)) * na)")).as("__l1"))
      .select(col("label"), col("__nad").as("n_a"), col("__nbd").as("n_b"),
        expr("CAST(__l1 AS BIGINT)").as("l1_num"),
        expr(s"""CASE WHEN __nad = 0 OR __nbd = 0 THEN NULL
                |ELSE CAST((1000 * __l1) DIV
                |  (CAST(__nad AS DECIMAL(38,0)) * __nbd * $dim * 1000000)
                |  AS BIGINT) END""".stripMargin).as("shift_milli"))
  }

  /** Per-class embedding outliers — the farthest members from their own
    * class centroid, the standard screen for mislabeled / out-of-
    * distribution examples before training. Distances are EXACT integers
    * with denominators cleared: for fixed-point coordinates x and class
    * sums S over n members,
    *
    *   d²·n² = Σ_d (x_d·n − S_d)²
    *
    * ranks identically to the real centroid distance (n is constant per
    * class) and never touches a float. DECIMAL(38,0) carries the squares
    * (x·n reaches ~10⁹ at thousands of members; its square overflows
    * int64). The REPORTED distance divides the n² back out —
    * `d²·n² DIV n²` ≈ 10¹²·d² — which fits int64 for unit-scale
    * embeddings.
    *
    * Plan shape: posexplode → per-(label, dim) sum (one hash agg) →
    * broadcast back onto the exploded rows → per-vector aggregation →
    * per-label top-k window (partitioned by label — classes are the
    * parallelism). Corpus touched twice (sums + distances), never joined
    * to itself.
    *
    * Output: `(label, rank, vec_id, n_members, dist2_scaled)`, top
    * `k` per label by (distance DESC, vec_id). Rows whose vector is
    * shorter than `dim` are EXCLUDED (a silent `slice` truncation would
    * rank a short vector by a partial distance — mirror the predicate
    * in any external replay).
    */
  def labelOutliers(df: DataFrame, idCol: Column, labelCol: Column,
                    vecCol: Column, dim: Int, k: Int): DataFrame = {
    require(dim >= 1 && k >= 1, s"bad dim=$dim k=$k")
    val fixed = transform(slice(vecCol, 1, dim),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val exploded = df.filter(size(vecCol) >= dim)
      .select(idCol.as("vec_id"), labelCol.as("label"),
        posexplode(fixed).as(Seq("d", "xi")))
    val sums = exploded.groupBy(col("label"), col("d"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
    val d2 = exploded.join(broadcast(sums), Seq("label", "d"))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("n")).as("n_members"),
        sum(expr("""(CAST(xi AS DECIMAL(38,0)) * n - s) *
                   |(CAST(xi AS DECIMAL(38,0)) * n - s)""".stripMargin))
          .as("d2n2"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("d2n2").desc, col("vec_id").asc)
    d2.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("label"), col("rank").cast("long").as("rank"),
        col("vec_id"), col("n_members"),
        expr("CAST(d2n2 DIV (CAST(n_members AS DECIMAL(38,0)) * n_members)" +
          " AS BIGINT)").as("dist2_scaled"))
  }

  /** Simplified (centroid) silhouette per label — the label-quality score
    * behind "are these classes actually separated in embedding space?":
    * for each vector, a = distance to its OWN label centroid, b = the
    * minimum distance to any OTHER label centroid, s = (b − a)/max(a, b)
    * ∈ [−1, 1] (Rousseeuw 1987's silhouette with centroids standing in
    * for mean pairwise distances — the O(N·L) variant, not O(N²)).
    *
    * Exactness route: fixed-point micros coordinates, per-(label, dim)
    * integer sums, cleared-denominator squared distances in DECIMAL(38,0)
    * ([[labelOutliers]]'s identity), then `d²·n² DIV n²` brings the
    * magnitude under 2⁵³ so the ONLY float steps — sqrt, subtract,
    * divide, floor — are single fixed-order IEEE expressions over exactly
    * representable integers (the text_bm25 portability rule). Per-label
    * means aggregate the INTEGER s_ppm, never doubles.
    *
    * Plan shape: posexplode → one hash agg on (label, dim) → broadcast
    * the L·dim centroid-sum table back onto the exploded rows joined on
    * dim (each row meets all L candidate labels — O(N·L·dim), linear in
    * the corpus; labels are parameter-scale) → per-(vector, candidate)
    * agg → per-vector pivot → per-label agg. No self-joins, no windows.
    *
    * Output: `(label, n_vectors, sum_s_ppm, mean_s_ppm)`; NULL scores
    * when only one label exists. Vectors shorter than `dim` are excluded
    * (the ragged-input contract).
    */
  def silhouette(df: DataFrame, idCol: Column, labelCol: Column,
                 vecCol: Column, dim: Int): DataFrame = {
    require(dim >= 1, s"dim=$dim must be >= 1")
    val fixed = transform(slice(vecCol, 1, dim),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val exploded = df.filter(size(vecCol) >= dim)
      .select(idCol.as("vec_id"), labelCol.as("own"),
        posexplode(fixed).as(Seq("d", "xi")))
    val sums = exploded.groupBy(col("own").as("cand"), col("d"))
      .agg(sum(col("xi")).as("s"), count(lit(1)).as("n"))
    val perCand = exploded.join(broadcast(sums), Seq("d"))
      .groupBy(col("vec_id"), col("own"), col("cand"))
      .agg(max(col("n")).as("n_c"),
        sum(expr("""(CAST(xi AS DECIMAL(38,0)) * n - s) *
                   |(CAST(xi AS DECIMAL(38,0)) * n - s)""".stripMargin))
          .as("d2n2"))
      // ≈ 10¹²·d² — under 2⁵³ for unit-scale embeddings, so the DOUBLE
      // conversion below is exact in any engine
      .withColumn("dist2",
        expr("CAST(d2n2 DIV (CAST(n_c AS DECIMAL(38,0)) * n_c) AS BIGINT)"))
    val perVec = perCand.groupBy(col("vec_id"), col("own"))
      .agg(max(when(col("cand") === col("own"), col("dist2"))).as("a2"),
        min(when(col("cand") =!= col("own"), col("dist2"))).as("b2"))
      .select(col("vec_id"), col("own"),
        expr("""CASE WHEN b2 IS NULL THEN NULL
               |WHEN greatest(a2, b2) = 0 THEN CAST(0 AS BIGINT)
               |ELSE CAST(floor(1000000.0 *
               |  (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE))) /
               |  greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))))
               |  AS BIGINT) END""".stripMargin).as("s_ppm"))
    perVec.groupBy(col("own").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("s_ppm")).as("sum_s_ppm"))
      .withColumn("mean_s_ppm",
        expr("""CASE WHEN sum_s_ppm IS NULL THEN NULL
               |WHEN sum_s_ppm >= 0 THEN sum_s_ppm DIV n_vectors
               |ELSE -((-sum_s_ppm + n_vectors - 1) DIV n_vectors)
               |END""".stripMargin))
  }

  /** Sparse-friendly random projection (the ±1 Achlioptas / JL family,
    * Achlioptas 2003): k output coordinates, each the SIGNED SUM of the
    * fixed-point input coordinates under a deterministic ±1 matrix —
    * the cheap dimensionality reduction applied before clustering or
    * coarse ANN when the full embedding width is wasteful.
    *
    * Exactness: inputs floor to `x·10⁶` longs (float×10⁶ is exact in a
    * double; floor is portable), signs come from [[projectionSigns]], and
    * each output is an order-FIXED fold over `dim` terms (zip_with +
    * aggregate, left-to-right) — integers only, bit-identical anywhere.
    *
    * Plan shape: one narrow projection, zero shuffles — the sign matrix
    * lives in the plan as `outDims` small literal arrays (dim ints each;
    * at dim=1024, k=16 that is 16 KB of plan — nowhere near the
    * HyperplaneSignatures literal-bloat regime of per-plane DOUBLE
    * vectors).
    *
    * Output: `(id, d0 … d{outDims−1})` — flat BIGINT columns, not an
    * array (array outputs break pandas-side result comparison, the r04
    * lesson).
    */
  def randomProjection(df: DataFrame, idCol: Column, vecCol: Column,
                       dim: Int, outDims: Int,
                       seed: Long = 42L): DataFrame = {
    require(dim >= 1 && outDims >= 1, s"bad shape dim=$dim out=$outDims")
    val signs = projectionSigns(dim, outDims, seed)
    val fixed = transform(slice(vecCol, 1, dim),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    val projections = signs.zipWithIndex.map { case (row, j) =>
      val signsLit = array(row.map(s => lit(s.toLong)): _*)
      aggregate(zip_with(fixed, signsLit, (x, sg) => x * sg),
        lit(0L), (acc, t) => acc + t).as(s"d$j")
    }
    // a vector shorter than dim would NULL every output through the
    // zip_with padding — exclude it so operator and replay agree
    df.filter(size(vecCol) >= dim).select(idCol.as("id") +: projections: _*)
  }

  /** Sign-bit signature of a vector column against the given hyperplanes,
    * packed into a Long — vectors with small angles agree on most bits.
    * At most 64 planes fit one Long; JVM shifts wrap at 64, so more would
    * silently alias plane i onto plane i−64 and corrupt the signature.
    * One-pass codegen'd expression ([[graft.functions.HyperplaneSignatures]])
    * holding the plane matrix as a reference object — never inlined as
    * per-plane literal arrays into the plan.
    */
  def hyperplaneSignature(vec: Column, planes: Array[Array[Double]]): Column = {
    require(planes.nonEmpty && planes.length <= 64,
      s"hyperplaneSignature packs sign bits into a Long: need 1..64 planes, got ${planes.length}")
    element_at(VectorFunctions.hyperplaneSignatures(vec, planes, planes.length), 1)
  }

  /** (band, bandSig) rows for a vector column: `numBands` independent
    * signatures of `bandBits` hyperplanes each. Two vectors collide in band
    * j with probability p^bandBits (p = 1 − θ/π), and become candidates if
    * they collide in ANY band — OR-amplification: P = 1 − (1 − p^b)^L.
    * All signatures come from ONE fused expression evaluation per row.
    */
  private def bandedSignatures(
      df: DataFrame, idOut: String, vecOut: String, idCol: String, vecCol: String,
      planes: Array[Array[Double]], bandBits: Int, numBands: Int): DataFrame =
    df.select(col(idCol).as(idOut), col(vecCol).as(vecOut))
      .select(col(idOut), col(vecOut),
        posexplode(VectorFunctions.hyperplaneSignatures(col(vecOut), planes, bandBits))
          .as(Seq("band", "bandSig")))

  /** Empty top-k result with the contract schema (query_id, neighbor_id,
    * rank, score), id types taken from the input frames.
    */
  private def emptyTopK(corpus: DataFrame, queries: DataFrame, idCol: String): DataFrame =
    queries.limit(0).select(col(idCol).as("query_id"))
      .crossJoin(corpus.limit(0).select(col(idCol).as("neighbor_id")))
      .withColumn("rank", lit(0))
      .withColumn("score", lit(0.0))

  /** Mutual nearest neighbors (reciprocal best match) over one embedding
    * corpus — the bitext/pair-mining primitive: keep (a, b) only when b
    * is a's best candidate AND a is b's (Artetxe &amp; Schwenk 2019's
    * margin-free base criterion). Candidates come from the banded
    * hyperplane self-join ([[graft.operators.Dedup.semanticNearDups]]
    * with no cosine floor) — never an all-pairs cross; best-match is a
    * `max(struct(cosine, −neighbor))` argmax per id (ties to the
    * smallest neighbor id; ids must be integral), and the reciprocal
    * filter is one self equi-join of the 1-row-per-id bests.
    *
    * The candidate frame is checkpointed once: it feeds both direction
    * aggregations, and re-deriving it would re-run the dominant banded
    * join (the branch-re-execution rule).
    *
    * Output: `(id_1, id_2, cosine)` with id_1 &lt; id_2 — each id appears
    * in at most one row.
    */
  def mutualTopMatches(emb: DataFrame, idCol: String, vecCol: String,
                       bandBits: Int = 8, numBands: Int = 16,
                       seed: Long = 42L): DataFrame = {
    // the argmax tie-break negates the id inside max(struct(...)); unary
    // minus on a non-numeric id null-casts under non-ANSI mode and would
    // silently corrupt best-match selection — reject at plan time (the
    // preferencePairs guard, same hazard)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val idType = emb.select(col(idCol)).schema.head.dataType
    require(Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$idCol must be an integral type for the negated tie-break, got $idType")
    val pairs = graft.operators.Dedup.semanticNearDups(emb, idCol, vecCol,
        threshold = -1.0, bandBits = bandBits, numBands = numBands,
        seed = seed)
      .localCheckpoint(true)
    val both = pairs
      .select(col("id_1").as("id"), col("id_2").as("nb"), col("cosine"))
      .unionByName(pairs
        .select(col("id_2").as("id"), col("id_1").as("nb"), col("cosine")))
    val top1 = both.groupBy(col("id"))
      .agg(max(struct(col("cosine"), (-col("nb")).as("mnb"))).as("t"))
      .select(col("id"), (-col("t.mnb")).as("best"),
        col("t.cosine").as("best_cos"))
    top1.alias("x").join(top1.alias("y"),
        col("x.best") === col("y.id") && col("y.best") === col("x.id") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_1"), col("y.id").as("id_2"),
        col("x.best_cos").as("cosine"))
  }

  /** K-means centroids over a bounded, deterministically-sampled subset of
    * the corpus, trained as DataFrame ops: hash-ordered sample → first
    * `nlist` rows as init → `iters` Lloyd rounds (`lloydRound` by
    * cosine). The init ranks the sample on the driver, so driver memory
    * holds at most max(sampleSize, nlist) rows × dim × 8 bytes (≈ 25 MB at
    * sampleSize 4096, dim 768); the rounds keep vectors in executors.
    * Returns (cell: int, centroid: array&lt;double&gt;). Cells that lose all
    * members keep their previous centroid so nlist stays stable.
    */
  def kmeansCentroids(
      corpus: DataFrame, vecCol: String,
      nlist: Int, iters: Int = 2, sampleSize: Int = 4096,
      seed: Long = 42L): DataFrame = {
    require(nlist >= 1, s"nlist=$nlist must be >= 1")
    val sample = hashSample(corpus, vecCol, math.max(sampleSize, nlist), seed)
      .localCheckpoint(true)

    // Initial centroids: the nlist hash-smallest sample rows. The sample
    // is parameter-bounded (≤ max(sampleSize, nlist) rows), so rank it on
    // the DRIVER with one collect instead of the former
    // rdd.sortBy.zipWithIndex.collect chain — that path scheduled three
    // jobs (range-partitioner sample, zipWithIndex count, collect) plus a
    // row-format conversion per k-means call, for a sort of ≤ 4096 rows.
    // Tie order among equal hash keys is irrelevant either way: r =
    // xxhash64(v), so tied rows carry identical vectors and the seed
    // VALUES are unchanged. No global Window.orderBy here either.
    val spark = corpus.sparkSession
    val seedRows = sample
      .select(col("r"), col("v").cast("array<double>").as("centroid"))
      .collect()
      .sortBy(_.getLong(0))
      .take(nlist)
      .zipWithIndex
      .map { case (row, idx) => Row(idx, row.get(1)) }
      .toSeq
    val init = spark.createDataFrame(seedRows.asJava, StructType(Seq(
        StructField("cell", IntegerType, nullable = false),
        StructField("centroid", ArrayType(DoubleType), nullable = false))))
      .localCheckpoint(true)

    (0 until iters).foldLeft(init) { (cents, _) =>
      lloydRound(sample, cents, Nil, "v",
        VectorFunctions.cosine(col("v"), col("centroid"))).localCheckpoint(true)
    }
  }

  /** Deterministic pseudo-random sample of `n` corpus vectors as (v, r):
    * ordered by a salted hash of the vector bytes, so it is independent of
    * input ordering and id clustering.
    */
  private def hashSample(corpus: DataFrame, vecCol: String, n: Int,
                         seed: Long): DataFrame =
    corpus
      .select(col(vecCol).as("v"))
      .withColumn("r", xxhash64(lit(seed), col("v")))
      .orderBy(col("r").asc)
      .limit(n)

  /** The nearest-cell argmax as a `max_by` aggregate over rows carrying
    * `cell` and `score`: ties break to the lowest cell id for determinism.
    */
  private def argmaxCell: Column =
    max_by(col("cell"), struct(col("score"), (-col("cell")).as("tb")))

  /** One Lloyd round over a hash sample (r, `vec`, groups…): assign each
    * sample vector to its best cell by `score` (within its `groups`, e.g.
    * the PQ subspace; across all cells when `groups` is empty — a cross
    * join of the broadcast centroids), move each cell to the component-
    * wise mean of its members, and keep the previous centroid of a cell
    * that lost all members, so the cell count stays stable. max_by keeps
    * the assign shuffle at one row per sample point after map-side partial
    * aggregation. The caller checkpoints the result.
    */
  private def lloydRound(
      sample: DataFrame, cents: DataFrame, groups: Seq[String], vec: String,
      score: Column): DataFrame = {
    val keys = (groups :+ "cell").map(col)
    val joined =
      if (groups.isEmpty) sample.crossJoin(broadcast(cents))
      else sample.join(broadcast(cents), groups)
    val assigned = joined
      .withColumn("score", score)
      .groupBy(groups.map(col) ++ Seq(col("r"), col(vec)): _*)
      .agg(argmaxCell.as("cell"))
    val updated = assigned
      .select(keys :+ posexplode(col(vec).cast("array<double>")).as(Seq("pos", "x")): _*)
      .groupBy(keys :+ col("pos"): _*).agg(avg(col("x")).as("mn"))
      .groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("mn")))).getField("mn").as("centroid"))
    cents.alias("old")
      .join(updated.alias("nw"), groups :+ "cell", "left")
      .select(keys :+ coalesce(col("nw.centroid"), col("old.centroid")).as("centroid"): _*)
  }

  /** IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    * their nearest k-means centroid (coarse quantizer); each query probes
    * only the `nprobe` closest centroid cells and exact-reranks inside
    * them. Centroids live in a small broadcast-joined DataFrame (never
    * inlined into the plan), assignment is one broadcast join + keyed
    * aggregation, and the probe is an equi-join on cell id — a
    * hash-partitioned join at scale, scanning ~nprobe/nlist of the corpus
    * per query instead of all of it.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4,
      kmeansIters: Int = 2, sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe=$nprobe must be in [1, nlist=$nlist]")
    if (queries.isEmpty) return emptyTopK(corpus, queries, idCol)
    val cents = kmeansCentroids(corpus, vecCol, nlist, kmeansIters, sampleSize, seed)
    ivfProbeTopK(cents, corpus, queries, idCol, vecCol, k, nprobe)
  }

  /** Deterministic IVF: cells anchored at caller-selected SEED rows (e.g.
    * a fixed id predicate) instead of learned k-means centroids — no float
    * iterations, so unlike [[ivfTopK]] the whole routing + rerank pipeline
    * is bit-reproducible and externally replayable. Routing quality is
    * whatever the seed choice gives (random seeds ≈ one k-means init
    * round); use this where reproducibility outranks cell balance — or as
    * the audit twin of the learned path.
    */
  def ivfSeededTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, seedPred: Column): DataFrame = {
    if (queries.isEmpty) return emptyTopK(corpus, queries, idCol)
    ivfProbeTopK(seededCells(corpus, idCol, vecCol, seedPred),
      corpus, queries, idCol, vecCol, k, nprobe)
  }

  /** Coarse cells anchored at the rows `seedPred` selects: (cell = id,
    * centroid = vector). */
  private def seededCells(corpus: DataFrame, idCol: String, vecCol: String,
                          seedPred: Column): DataFrame =
    corpus.filter(seedPred)
      .select(col(idCol).as("cell"), col(vecCol).as("centroid"))

  /** Corpus routing: each corpus vector's nearest cell by cosine to the
    * broadcast centroids `cents`, as (`idOut`, [cv,] `cellOut`). max_by
    * folds the nlist-way expansion back to one row per vector map-side;
    * ties break to the lowest cell id. `keepVec` carries the vector along
    * as `cv` for an exact rerank.
    */
  private def routeCorpus(
      corpus: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      idOut: String, cellOut: String, keepVec: Boolean): DataFrame = {
    val aggs = (if (keepVec) Seq(first(col("cv")).as("cv")) else Nil) :+
      argmaxCell.as(cellOut)
    corpus
      .select(col(idCol).as(idOut), col(vecCol).as("cv"))
      .crossJoin(broadcast(cents))
      .withColumn("score", VectorFunctions.cosine(col("cv"), col("centroid")))
      .groupBy(col(idOut))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Query routing: each query's top-`nprobe` cells by cosine to the
    * broadcast centroids (ties to the lower cell), one (query_id, qv,
    * cell, …) row per probe.
    */
  private def probeCells(
      queries: DataFrame, idCol: String, vecCol: String, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val pw = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("cell").asc)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("score", VectorFunctions.cosine(col("qv"), col("centroid")))
      .withColumn("prank", row_number().over(pw))
      .filter(col("prank") <= nprobe)
  }

  /** Shared IVF probe: assign corpus rows to their nearest cell, probe the
    * top-`nprobe` cells per query, exact-rerank within probed cells.
    */
  private def ivfProbeTopK(
      cents: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val assigned = routeCorpus(corpus, idCol, vecCol, cents,
      "neighbor_id", "cell", keepVec = true)
    val probes = probeCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    cosineTopK(broadcast(probes)
      .join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** Column of the m subspace slices of a vector: [v[0..dsub), v[dsub..2dsub), …]. */
  private def subspaceSlices(v: Column, m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      j => slice(v, j * dsub + 1, lit(dsub)))

  /** Per-subspace L2 k-means codebooks for product quantization (Jégou,
    * Douze &amp; Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 §II): the vector is split into `m` subvectors and each
    * subspace gets its own `ksub`-centroid quantizer. Assignment minimizes
    * L2 (argmin ‖sv − c‖² ≡ argmax 2·⟨sv,c⟩ − ‖c‖², the ‖sv‖² term is
    * constant per row) — NOT cosine: code reconstruction must preserve
    * subvector magnitudes or the recomposed dot products drift.
    *
    * All m subspaces train in the SAME Lloyd rounds: the bounded sample is
    * exploded to (subspace, subvector) rows once and each round is one
    * equi-join + two aggregations over all subspaces together — `iters`
    * jobs total, not m·iters. Returns (subspace, cell, centroid, cnorm2);
    * m·ksub rows — parameter-sized, broadcast at every use.
    */
  def pqCodebooks(
      corpus: DataFrame, vecCol: String, m: Int, ksub: Int,
      iters: Int = 2, sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    require(m >= 1 && ksub >= 1, s"m=$m and ksub=$ksub must be >= 1")
    val dimRow = corpus.select(size(col(vecCol))).limit(1).collect().headOption
    require(dimRow.nonEmpty, "pqCodebooks: corpus is empty")
    val dim = dimRow.get.getInt(0)
    require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
    val dsub = dim / m

    // The hash sample exploded once to (subspace, r, sv) sub-vector rows.
    val sample = hashSample(corpus, vecCol, math.max(sampleSize, ksub), seed)
      .select(col("r"),
        posexplode(subspaceSlices(col("v").cast("array<double>"), m, dsub))
          .as(Seq("subspace", "sv")))
      .localCheckpoint(true)

    // Init: per subspace, the ksub hash-smallest sample subvectors. The
    // window partitions by subspace over the bounded sample — not a global
    // single-partition window.
    val iw = Window.partitionBy(col("subspace")).orderBy(col("r").asc)
    def withNorm(c: DataFrame): DataFrame =
      c.withColumn("cnorm2", VectorFunctions.dot(col("centroid"), col("centroid")))
    val init = withNorm(sample
      .withColumn("rk", row_number().over(iw))
      .filter(col("rk") <= ksub)
      .select(col("subspace"), (col("rk") - 1).as("cell"), col("sv").as("centroid")))
      .localCheckpoint(true)

    (0 until iters).foldLeft(init) { (books, _) =>
      withNorm(lloydRound(sample, books, Seq("subspace"), "sv",
        lit(2.0) * VectorFunctions.dot(col("sv"), col("centroid")) - col("cnorm2")))
        .localCheckpoint(true)
    }
  }

  /** PQ codebooks whose cells are the subspace slices of the rows
    * `seedPred` selects: (subspace, cell = id, centroid, cnorm2). */
  private def seededCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String, seedPred: Column,
      m: Int, dsub: Int): DataFrame =
    corpus.filter(seedPred)
      .select(col(idCol).cast("int").as("cell"),
        posexplode(subspaceSlices(col(vecCol).cast("array<double>"), m, dsub))
          .as(Seq("subspace", "centroid")))
      .withColumn("cnorm2", VectorFunctions.dot(col("centroid"), col("centroid")))
      .select(col("subspace"), col("cell"), col("centroid"), col("cnorm2"))

  /** PQ-encode a corpus: one code (nearest codebook cell) per subspace,
    * via the one-pass codegen'd [[graft.functions.PqEncodeCodes]]
    * expression. The trained codebooks are PARAMETER-sized (m·ksub rows),
    * so they are collected once and held inside the expression — encoding
    * is a map-only projection with NO shuffle (the former explode → join →
    * double-aggregate shape shuffled the corpus twice). Output (id, codes:
    * array&lt;int&gt;, norm2: double) — m small ints + one double per
    * vector, the 32×-class compression that makes a 100 TB corpus
    * cacheable (SCALE.md's PQ memory model); `norm2` is the reconstructed
    * ‖x‖² used by the ADC scorer.
    */
  def pqEncode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int): DataFrame = {
    // bounded driver-side collect: m·ksub rows of dsub doubles — the same
    // class of action as the hyperplane matrix (parameters, not data)
    val rows = codebooks
      .select(col("subspace").cast("int"), col("cell").cast("int"),
        col("centroid"), col("cnorm2"))
      .collect()
      .sortBy(r => (r.getInt(0), r.getInt(1)))
    require(rows.nonEmpty, "pqEncode: empty codebooks")
    val ksub = rows.length / m
    require(rows.length == m * ksub &&
      rows.zipWithIndex.forall { case (r, i) =>
        r.getInt(0) == i / ksub && r.getInt(1) == i % ksub },
      s"pqEncode: codebooks are not a dense m=$m × ksub=$ksub grid")
    val book = new Array[Double](m * ksub * dsub)
    val norms = new Array[Double](m * ksub)
    rows.zipWithIndex.foreach { case (r, i) =>
      val cent = r.getSeq[Double](2)
      require(cent.length == dsub,
        s"pqEncode: centroid ${r.getInt(0)}/${r.getInt(1)} has dim ${cent.length}, want $dsub")
      var j = 0
      while (j < dsub) { book(i * dsub + j) = cent(j); j += 1 }
      norms(i) = r.getDouble(3)
    }
    // no spread here (r15, measured): at m=8/ksub=16 the encode is light
    // relative to an exchange + AQE stage job, and the sim_* queries are
    // job-count-bound (sim_pq read 0.82× with a spread inserted)
    corpus
      .select(col(idCol).as("id"),
        VectorFunctions.pqEncodeCodes(col(vecCol), book, norms, m, ksub, dsub)
          .as("codes"))
      .select(col("id"), col("codes"),
        VectorFunctions.pqCodesNorm2(col("codes"), norms, m, ksub).as("norm2"))
  }

  /** Approximate top-k by asymmetric distance computation over PQ codes
    * (IVFADC's scoring half, Jégou et al. 2011 §III): per query, a
    * (subspace, cell) → ⟨q_sub, centroid⟩ lookup table (m·ksub rows,
    * broadcast); a corpus row's approximate dot is the sum of its m
    * table hits and its norm comes from the codebook (`norm2`), so scoring
    * reads CODES only — never the original vectors. The per-pair sum folds
    * a sorted struct array sequentially (deterministic float order, not a
    * shuffle-order-dependent SUM). Compose with an IVF cell filter on the
    * corpus for full IVFADC; alone it is the compressed brute-force scan.
    */
  def pqAdcTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame =
    withSubDim(corpus, queries, idCol, vecCol, m) { dsub =>
      val books = pqCodebooks(corpus, vecCol, m, ksub, iters, sampleSize, seed)
      pqAdcScoreTopK(books, corpus, queries, idCol, vecCol, k, m, dsub)
    }

  /** Deterministic seeded-codebook ADC: codebook cells are the subspace
    * slices of caller-selected SEED rows (`seedPred` must select exactly
    * rows with ids 0..ksub−1 — [[pqEncode]] needs a dense cell grid)
    * instead of per-subspace k-means — no float iterations, so encode,
    * norms and ADC scores are bit-reproducible and externally replayable.
    * The audit twin of [[pqAdcTopK]], as [[ivfSeededTopK]] is of
    * [[ivfTopK]].
    */
  def pqSeededAdcTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int, seedPred: Column): DataFrame =
    withSubDim(corpus, queries, idCol, vecCol, m) { dsub =>
      pqAdcScoreTopK(seededCodebooks(corpus, idCol, vecCol, seedPred, m, dsub),
        corpus, queries, idCol, vecCol, k, m, dsub)
    }

  /** Shared ADC scorer: encode the corpus against `books`, build each
    * query's (subspace, cell) → dot lookup table, sum per-pair dots in
    * fixed subspace order, rank. */
  private def pqAdcScoreTopK(
      books: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, m: Int, dsub: Int): DataFrame = {
    val codes = pqEncode(corpus, idCol, vecCol, books, m, dsub)
    val qtab = pqQueryTable(queries, idCol, vecCol, books, m, dsub)
    topKPerQuery(adcScores(codes
      .select(col("id").as("neighbor_id"), col("norm2"),
        posexplode(col("codes")).as(Seq("subspace", "cell")))
      .join(broadcast(qtab), Seq("subspace", "cell"))
      .filter(col("query_id") =!= col("neighbor_id"))), k)
  }

  /** Per-query ADC lookup table: (query_id, qnorm, subspace, cell, qdot)
    * with one ⟨q_sub, centroid⟩ dot per (subspace, cell) — m·ksub rows per
    * query, parameter-sized, broadcast at every use.
    */
  private def pqQueryTable(
      queries: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, m: Int, dsub: Int): DataFrame =
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", sqrt(VectorFunctions.dot(col("qv"), col("qv"))))
      .select(col("query_id"), col("qnorm"),
        posexplode(subspaceSlices(col("qv").cast("array<double>"), m, dsub))
          .as(Seq("subspace", "qsv")))
      .join(broadcast(codebooks), Seq("subspace"))
      .select(col("query_id"), col("qnorm"), col("subspace"), col("cell"),
        VectorFunctions.dot(col("qsv"), col("centroid")).as("qdot"))

  /** ADC score per (query_id, neighbor_id) from its lookup-table hits
    * (subspace, qdot, norm2, qnorm): the approximate dot folds the hits
    * sorted by subspace (deterministic float order, not a shuffle-order-
    * dependent SUM), and the cosine divides by the query norm and the
    * code's reconstructed norm (0 when either is 0).
    */
  private def adcScores(hits: DataFrame): DataFrame =
    hits
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("subspace"), col("qdot")))),
          lit(0.0), (acc, x) => acc + x.getField("qdot")).as("adot"),
        first(col("norm2")).as("norm2"),
        first(col("qnorm")).as("qnorm"))
      .withColumn("score",
        when(col("norm2") > 0.0 && col("qnorm") > 0.0,
          col("adot") / (col("qnorm") * sqrt(col("norm2"))))
          .otherwise(lit(0.0)))

  /** Full IVFADC (Jégou et al. 2011 §IV, the standard billion-scale ANN
    * architecture): the IVF coarse quantizer routes each query to its
    * `nprobe` nearest k-means cells, and ONLY the PQ codes stored in those
    * cells are ADC-scored — per query, ~nprobe/nlist of the corpus is
    * touched, and what is touched is read as m small ints per vector, not
    * the raw floats. Raw-vector PQ variant (codes quantize the vectors
    * themselves, not the cell residuals — faiss's `by_residual=false`):
    * `nprobe = nlist` degenerates to exactly [[pqAdcTopK]], which the spec
    * asserts row-for-row.
    *
    * Shape at scale: both quantizers train on bounded samples; centroids
    * and codebooks are parameter-sized broadcasts; the routing filter is
    * an equi-join of codes against the exploded (query, cell) probe list;
    * scoring and top-k are keyed aggregations — no stage touches more
    * than the probed fraction of the corpus after the one-off encode.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16,
      kmeansIters: Int = 2, pqIters: Int = 2,
      sampleSize: Int = 4096, seed: Long = 42L): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe=$nprobe must be in [1, nlist=$nlist]")
    withSubDim(corpus, queries, idCol, vecCol, m) { dsub =>
      val cents = kmeansCentroids(corpus, vecCol, nlist, kmeansIters, sampleSize, seed)
      val books = pqCodebooks(corpus, vecCol, m, ksub, pqIters, sampleSize, seed)
      ivfPqScoreTopK(cents, books, corpus, queries, idCol, vecCol, k, nprobe, m, dsub)
    }
  }

  /** Deterministic seeded IVFADC: seeded coarse cells ([[ivfSeededTopK]])
    * + seeded PQ codebooks ([[pqSeededAdcTopK]]) composed — the fully
    * externally-replayable twin of [[ivfPqTopK]]. `cellSeedPred` rows
    * anchor routing cells; `bookSeedPred` must select ids 0..ksub−1 for
    * the dense codebook grid.
    */
  def ivfPqSeededTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, m: Int,
      cellSeedPred: Column, bookSeedPred: Column): DataFrame =
    withSubDim(corpus, queries, idCol, vecCol, m) { dsub =>
      ivfPqScoreTopK(seededCells(corpus, idCol, vecCol, cellSeedPred),
        seededCodebooks(corpus, idCol, vecCol, bookSeedPred, m, dsub),
        corpus, queries, idCol, vecCol, k, nprobe, m, dsub)
    }

  /** Shared IVFADC core: route corpus and queries over `cents`, ADC-score
    * probed cells' codes against `books` in fixed subspace order. */
  private def ivfPqScoreTopK(
      cents: DataFrame, books: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      m: Int, dsub: Int): DataFrame = {
    // the coarse cell is named ivf_cell so it cannot collide with the PQ
    // codebook's `cell` column downstream
    val cellOf = routeCorpus(corpus, idCol, vecCol, cents,
      "id", "ivf_cell", keepVec = false)
    val codes = pqEncode(corpus, idCol, vecCol, books, m, dsub)
      .join(cellOf, Seq("id"))
    val probes = probeCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("query_id"), col("cell").as("ivf_cell"))
    val qtab = pqQueryTable(queries, idCol, vecCol, books, m, dsub)
    topKPerQuery(adcScores(codes
      .join(broadcast(probes), Seq("ivf_cell"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("norm2"),
        posexplode(col("codes")).as(Seq("subspace", "cell")))
      .join(broadcast(qtab), Seq("query_id", "subspace", "cell"))), k)
  }

  /** Run `body` on the query vectors' dimension, probed from one row; an
    * empty query set returns `emptyTopK` instead. The dimension comes
    * from the data because a silent mismatch would work on prefix
    * components (DotProduct loops to min length).
    */
  private def withQueryDim(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String)(
      body: Int => DataFrame): DataFrame =
    queries.select(size(col(vecCol))).limit(1).collect().headOption match {
      case None => emptyTopK(corpus, queries, idCol)
      case Some(row) => body(row.getInt(0))
    }

  /** `withQueryDim` for the PQ paths: refuses a dimension that `m` does
    * not divide, and hands `body` the subvector width dsub = dim / m.
    */
  private def withSubDim(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, m: Int)(
      body: Int => DataFrame): DataFrame =
    withQueryDim(corpus, queries, idCol, vecCol) { dim =>
      require(dim % m == 0, s"dim=$dim must be divisible by m=$m")
      body(dim / m)
    }

  /** Approximate top-k via banded hyperplane LSH: `numBands` independent
    * `bandBits`-plane signatures per vector; a corpus vector is a candidate
    * for a query iff they share the exact signature in at least one band
    * (OR-amplification), then candidates are exact-reranked by cosine.
    *
    * The candidate join is an EQUI-join on (band, bandSig) — broadcast-hash
    * here (bounded query set), shuffle-hash/sort-merge when the query side
    * is large — never a nested-loop scan of the corpus.
    *
    * Tuning: candidate recall for a pair at angle θ is 1 − (1 − p^bandBits)
    * ^numBands with p = 1 − θ/π. Defaults (8 bits × 16 bands) suit
    * clustered real-world embeddings (neighbor cosine ≳ 0.7); for
    * weakly-clustered corpora lower `bandBits` (wider buckets, more rerank
    * work) to hold recall.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, bandBits: Int = 8, numBands: Int = 16, seed: Long = 42L,
      probeDepth: Int = 0, maxProbeBits: Int = 8): DataFrame = {
    require(bandBits >= 1 && bandBits <= 64,
      s"bandBits=$bandBits must be in [1, 64] (band signature packs into a Long)")
    require(numBands >= 1, s"numBands=$numBands must be >= 1")
    require(probeDepth >= 0 && probeDepth <= 2,
      s"probeDepth=$probeDepth must be 0 (exact buckets), 1 (single-bit " +
        "probes) or 2 (query-directed probes over <=2-bit flip sets)")
    require(maxProbeBits >= 1, s"maxProbeBits=$maxProbeBits must be >= 1")
    withQueryDim(corpus, queries, idCol, vecCol) { dim =>
      val planes = hyperplanes(dim, bandBits * numBands, seed)

      // Multi-probe (Lv et al., "Multi-probe LSH", VLDB 2007), margin-aware:
      // ALSO probe the buckets whose signature differs on LEAST-CONFIDENT
      // bits — near-misses on a small-|dot| hyperplane are the dominant
      // false-negative mode, so band recall jumps from p^b toward
      // p^b + b·p^(b−1)(1−p) for query-side fan-out ×(probes+1), and the
      // fan-out stays CONSTANT when a deployment widens bands with log n
      // (the lshGeometry scaling rule). probeDepth=1 probes the
      // min(bandBits, maxProbeBits) single-bit flips; probeDepth=2 is the
      // full QUERY-DIRECTED sequence (Lv §4.2) — the maxProbeBits best flip
      // SETS of ≤2 bits ranked by summed margin, so two near-zero margins
      // out-rank one confident plane and the same recall needs fewer probe
      // rows (RecallBench measures the trade). The CORPUS side is untouched:
      // same buckets, same storage, still a pure equi-join — recall is
      // bought with query rows, not memory.
      val q = if (probeDepth == 0)
        bandedSignatures(queries, "query_id", "qv", idCol, vecCol,
          planes, bandBits, numBands)
      else
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
            posexplode(graft.functions.VectorFunctions.hyperplaneProbes(
              col(vecCol), planes, bandBits, maxProbeBits,
              maxFlip = probeDepth))
              .as(Seq("band", "probeSigs")))
          .select(col("query_id"), col("qv"), col("band"),
            explode(col("probeSigs")).as("bandSig"))
      val c = bandedSignatures(corpus, "neighbor_id", "cv", idCol, vecCol,
        planes, bandBits, numBands)
      // a pair can collide in several bands — dedupe before the rerank so
      // row_number sees each candidate once
      cosineTopK(broadcast(q)
        .join(c, Seq("band", "bandSig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id"), k)
    }
  }
}
