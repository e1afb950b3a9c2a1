package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {

  test("clusteredEmbeddingView: τ=0.8 truth is exactly the in-cluster pair set, and the recall08 audit holds its floor") {
    // the operating-regime gate's fixture derivation: member_i =
    // center_(i mod k) + 0.2·v_i over the near-uniform driver fixture
    // must produce a corpus whose τ=0.8 pairs are PRECISELY the
    // same-residue (in-cluster) pairs — that identity is what makes the
    // constant 0.95 floor a statement about cluster-local routing and
    // not about an arbitrary threshold on an arbitrary corpus.
    val spark0 = TestSpark.spark
    val emb = Tables.embeddings(spark0, TestSpark.sf)
    val n = emb.count()
    val k = math.max(1L, n / 20L)
    val view = Dedup.clusteredEmbeddingView(emb, "vec_id", "embedding")
    val rows = view.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    assert(rows.length == n, "gate fixture ids are contiguous — no member drops")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    var inClusterBelow = 0; var crossAbove = 0; var inCluster = 0
    for (i <- rows.indices; j <- (i + 1) until rows.length) {
      val same = rows(i)._1 % k == rows(j)._1 % k
      val c = cos(rows(i)._2, rows(j)._2)
      if (same) { inCluster += 1; if (c < 0.8) inClusterBelow += 1 }
      else if (c >= 0.8) crossAbove += 1
    }
    assert(inCluster == (n / k) * (n / k - 1) / 2 * k,
      s"expected $k full clusters of ${n / k}")
    assert(inClusterBelow == 0,
      s"$inClusterBelow in-cluster pairs fell below τ=0.8 — the 0.2 noise " +
        "scale no longer keeps clusters inside the operating band")
    assert(crossAbove == 0,
      s"$crossAbove cross-cluster pairs crossed τ=0.8 — truth is no longer " +
        "the in-cluster pair set")
    // and the full declared-gate computation holds its constant floor
    val ncells = Similarity.ivfCellCount(n)
    val anchors = view.filter(col("vec_id") < ncells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val row = Dedup.semanticIvfRecallAudit(view, "vec_id", "embedding",
      threshold = 0.8, cells = anchors, nassign = 2,
      floorPpm = Some(Similarity.ivfClusteredPairRecallFloorPpm))
      .collect().head
    assert(row.getAs[Boolean]("recall_ok"),
      s"clustered-regime gate failed at spec scale: $row")
    assert(row.getAs[Long]("truth_pairs") == inCluster,
      "stratum modulus is 1 at this n — audit truth must equal the full " +
        "in-cluster pair count")
  }

  test("editDistancePairs: within-block exact distances, big blocks dropped") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "kitten", "k"), (2L, "sitten", "k"), (3L, "sitting", "k"),
      (4L, "kitten", "x"), // same string, different block: never paired
      (5L, "aaaa", "z"), (6L, "aaab", "z"), (7L, "zzzz", "z")
    ).toDF("id", "s", "blk")
    val got = graft.operators.Dedup
      .editDistancePairs(df, "id", col("s"), col("blk"), maxDist = 2)
      .as[(Long, Long, Long)].collect().toSet
    // kitten~sitten=1, sitten~sitting=2, kitten~sitting=3 (cut), aaaa~aaab=1
    assert(got == Set((1L, 2L, 1L), (2L, 3L, 2L), (5L, 6L, 1L)))
    // a degenerate blocking key must drop the whole block, not cross-join it
    val guard = graft.operators.Dedup.editDistancePairs(
      df.withColumn("blk", org.apache.spark.sql.functions.lit("all")),
      "id", col("s"), col("blk"), maxDist = 2, maxBlock = 3L)
    assert(guard.count() == 0)
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("substringDupProfile: cross-doc + within-doc spans, merged coverage") {
    val docs = Seq(
      (1L, "p q r s t u v w"),                    // shared 8-run with doc 2
      (2L, "z1 z2 p q r s t u v w z3"),           // ... embedded mid-doc
      (3L, "c1 c2 c3 c4 c5"),                     // unique: zero coverage
      (4L, "d1 d2 d3"),                           // shorter than k: no window
      (5L, "r1 r2 r3 r4 x r1 r2 r3 r4")           // within-doc repeat
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupProfile(docs, "doc_id", col("text"), k = 4)
      .orderBy("id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      // overlapping windows of one duplicated run merge into ONE span
      // covering all 8 tokens, not 5 windows x 4 tokens
      (1L, 8L, 8L, 1L, 1000000L),
      (2L, 11L, 8L, 1L, 8L * 1000000L / 11L),
      (3L, 5L, 0L, 0L, 0L),
      (4L, 3L, 0L, 0L, 0L),
      // "r1 r2 r3 r4" occurs at pos 0 and 5: two disjoint 4-token spans
      (5L, 9L, 8L, 2L, 8L * 1000000L / 9L)))
  }

  test("minhash-LSH near-dups equal brute-force exact Jaccard at sf0.001") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val sh = TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)
    val lsh = Dedup.minHashNearDups(docs, "doc_id", sh, 0.5,
        Dedup.LshConfig(numHashes = 64, bandRows = 2))
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet

    val base = docs.select(col("doc_id").cast("long").as("id"), sh.as("sh"))
      .filter(size(col("sh")) > 0)
    val a = base.alias("a"); val b = base.alias("b")
    val brute = a.join(b, col("a.id") < col("b.id"))
      .withColumn("j", TextFunctions.jaccard(col("a.sh"), col("b.sh")))
      .filter(col("j") >= 0.5)
      .select(col("a.id"), col("b.id")).as[(Long, Long)].collect().toSet

    assert(lsh == brute)
    assert(brute.nonEmpty, "fixture should contain near-dup pairs")
  }

  test("incremental minhash probe equals the symmetric result restricted to new x corpus") {
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = graft.functions.ShingleFunctions.wordShingleHashes(
      TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    val inc = Dedup.minHashNearDupsAgainst(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "doc_id", sh, sh, 0.5, cfg)
      .select("id_new", "id_corpus", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // symmetric over everything, keep only pairs straddling the split,
    // re-oriented as (new, corpus)
    val sym = Dedup.minHashNearDups(docs, "doc_id", sh, 0.5, cfg)
      .select("id_1", "id_2", "jaccard")
      .as[(Long, Long, Double)].collect()
      .collect {
        case (a, b, j) if a % 10 == 0 && b % 10 != 0 => (a, b, j)
        case (a, b, j) if b % 10 == 0 && a % 10 != 0 => (b, a, j)
      }.toSet
    assert(inc == sym)
    assert(inc.nonEmpty, "fixture should contain cross-split near-dups")
  }

  test("old-format minhash index: the probe refuses, naming the missing _meta column") {
    val docs = Tables.documents(spark, TestSpark.sf)
    def sh = graft.functions.ShingleFunctions.wordShingleHashes(
      TextFunctions.tokens(col("text")), 3)
    val cfg = Dedup.LshConfig(numHashes = 64, bandRows = 2)
    val table = "t_old_meta_spec"
    Dedup.writeMinHashIndex(docs.filter(col("doc_id") % 10 =!= 0), "doc_id",
      sh, cfg, table, numBuckets = 4)
    // rewrite _meta as a writer from before `num_buckets` left it
    graft.sources.Sinks.dropTableAndLocation(spark, s"${table}_meta")
    Seq((cfg.numHashes, cfg.bandRows, cfg.seed))
      .toDF("num_hashes", "band_rows", "seed")
      .write.format("parquet").saveAsTable(s"${table}_meta")
    val e = intercept[IllegalArgumentException] {
      Dedup.minHashNearDupsAgainstIndex(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", sh, 0.5, table, cfg)
    }
    assert(e.getMessage.contains("num_buckets"), e.getMessage)
    assert(e.getMessage.contains("probing"), e.getMessage)
  }

  test("hashed-shingle fast path finds the same pairs as string shingles") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val viaStrings = Dedup.minHashNearDups(docs, "doc_id",
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3), 0.5,
        Dedup.LshConfig(numHashes = 64, bandRows = 2))
      .select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val viaHashes = Dedup.minHashNearDups(docs, "doc_id",
        graft.functions.ShingleFunctions.wordShingleHashes(
          TextFunctions.tokens(col("text")), 3), 0.5,
        Dedup.LshConfig(numHashes = 64, bandRows = 2))
      .select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(viaStrings == viaHashes)
  }

  test("simhash pigeonhole banding finds all pairs within maxDist (vs brute)") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val toks = TextFunctions.tokens(col("text"))
    val viaLsh = Dedup.simHashNearDups(docs, "doc_id", toks, maxDist = 3)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val sigs = docs.select(col("doc_id").cast("long"),
        graft.functions.HashFunctions.simhash64(toks))
      .as[(Long, Long)].collect()
    val brute = (for {
      (i, si) <- sigs; (j, sj) <- sigs
      if i < j && java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(viaLsh == brute)
  }

  test("canonical assignments resolve transitive chains to the minimum id") {
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_1", "id_2")
    val got = Dedup.canonicalAssignments(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("canonical assignments with reliable checkpoints match localCheckpoint run") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_1", "id_2")
    val fast = Dedup.canonicalAssignments(pairs)
      .as[(Long, Long)].collect().toMap
    val sc = spark.sparkContext
    // reliable=true without a checkpoint dir must fail fast, not mid-job
    assert(sc.getCheckpointDir.isEmpty ||
      sc.getCheckpointDir.get.nonEmpty) // document current state
    if (sc.getCheckpointDir.isEmpty) {
      intercept[IllegalArgumentException] {
        Dedup.canonicalAssignments(pairs, reliable = true)
      }
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    }
    val durable = Dedup.canonicalAssignments(pairs, reliable = true)
      .as[(Long, Long)].collect().toMap
    assert(durable == fast)
  }

  test("keepCorpus drops exactly the non-canonical near-dups") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val pairs = Dedup.minHashNearDups(docs, "doc_id",
      graft.functions.ShingleFunctions.wordShingleHashes(
        TextFunctions.tokens(col("text")), 3), 0.5,
      Dedup.LshConfig(numHashes = 64, bandRows = 2))
    val kept = Dedup.keepCorpus(docs, "doc_id", pairs)
    val assigns = Dedup.canonicalAssignments(pairs)
      .filter(col("id") =!= col("canonical_id")).count()
    assert(kept.count() == docs.count() - assigns)
    assert(assigns > 0)
  }

  test("embedding near-dups: every reported pair verifies above threshold") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      col("vec_id") < 50, 0.25)
    val bad = pairs.filter(col("cosine") < 0.25).count()
    assert(bad == 0)
    assert(pairs.count() > 0)
  }

  test("LSH ANN top-k achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
        bandBits = 4, numBands = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("multi-probe LSH lifts recall over exact buckets at identical corpus storage") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(probe: Int): Double = {
      val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
          bandBits = 6, numBands = 8, probeDepth = probe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val r0 = recallAt(0)
    val r1 = recallAt(1)
    assert(r1 >= r0,
      s"probing flipped buckets can only add candidates: r0=$r0 r1=$r1")
    assert(r1 >= 0.7, s"multi-probe recall $r1 too low at 6x8 banding")
    // margin-TRUNCATED regime (bandBits > maxProbeBits): the probe set is
    // a strict subset of the naive flips but always contains the base
    // bucket, so probing still cannot lose recall vs exact buckets
    def recallWide(probe: Int): Double = {
      val approx = Similarity.lshTopK(emb, q, "vec_id", "embedding", 5,
          bandBits = 10, numBands = 8, probeDepth = probe, maxProbeBits = 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    assert(recallWide(1) >= recallWide(0),
      "margin-truncated probes must not lose recall vs exact buckets")
  }

  /** The PQ top-k entry points over the fixture embeddings, as
    * (queries, m) => result. Seed predicates are never evaluated by the
    * empty-set or refusal cases that use this table. */
  private def pqTopKPaths(emb: DataFrame): Seq[(String, (DataFrame, Int) => DataFrame)] = {
    val seeds = col("vec_id") < 16
    Seq(
      "pqAdcTopK" -> ((q, m) =>
        Similarity.pqAdcTopK(emb, q, "vec_id", "embedding", 5, m = m)),
      "pqSeededAdcTopK" -> ((q, m) =>
        Similarity.pqSeededAdcTopK(emb, q, "vec_id", "embedding", 5, m, seeds)),
      "ivfPqTopK" -> ((q, m) =>
        Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5, m = m)),
      "ivfPqSeededTopK" -> ((q, m) =>
        Similarity.ivfPqSeededTopK(emb, q, "vec_id", "embedding", 5, 4, m,
          seeds, seeds)))
  }

  test("every ANN top-k returns empty (not an error) for an empty query set") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val none = emb.filter(col("vec_id") < 0)
    val paths = Seq[(String, DataFrame => DataFrame)](
      "lshTopK" -> (q => Similarity.lshTopK(emb, q, "vec_id", "embedding", 5)),
      "ivfTopK" -> (q => Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5)),
      "ivfSeededTopK" -> (q => Similarity.ivfSeededTopK(emb, q, "vec_id",
        "embedding", 5, 4, col("vec_id") < 16))) ++
      pqTopKPaths(emb).map { case (name, topK) => name -> (topK(_, 8)) }
    for ((name, topK) <- paths) {
      val out = topK(none)
      assert(out.count() == 0, name)
      assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "score"),
        name)
    }
  }

  test("PQ top-k entry points refuse a dim that m does not divide") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val m = 5
    assert(dim % m != 0, s"fixture dim=$dim must not be a multiple of m=$m")
    val some = emb.filter(col("vec_id") < 2)
    for ((name, topK) <- pqTopKPaths(emb)) {
      val e = intercept[IllegalArgumentException](topK(some, m))
      assert(e.getMessage.contains(s"dim=$dim") && e.getMessage.contains(s"m=$m"),
        s"$name: ${e.getMessage}")
    }
  }

  test("PQ ADC top-k: high recall on clustered vectors, valid codes, deterministic") {
    // PQ's contract is on clusterable data (real embedding corpora); the
    // near-uniform fixture is its worst case, so build a clustered one:
    // 16 well-separated centers, 12 members each, small noise.
    val rnd = new java.util.Random(7)
    val dim = 32
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
    val rows = for (c <- centers.indices; i <- 0 until 12) yield
      (c.toLong * 12 + i,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 12 === 0) // one query per cluster

    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def run() = Similarity.pqAdcTopK(emb, q, "vec_id", "embedding", 5,
        m = 4, ksub = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = run()
    // PQ quantizes every member of a tight cluster to the SAME m codes, so
    // ADC scores tie across a cluster and within-cluster ORDER is
    // unrecoverable by construction (ties break by neighbor_id; expected
    // overlap with the exact top-5 of the 11 co-members is 5/11 ≈ 0.45).
    // The guarantee on clustered data is cluster-level: every returned
    // neighbor lies in the query's cluster, and the exact-recall floor sits
    // at the tie-expected level.
    val sameCluster = approx.count { case (q, n) => q / 12 == n / 12 }
    assert(sameCluster.toDouble / approx.size >= 0.95,
      s"only $sameCluster/${approx.size} PQ neighbors share the query's cluster")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.35, s"recall $recall below the tie-expected floor")
    assert(run() == approx, "PQ pipeline must be deterministic")

    val codes = Similarity.pqEncode(emb, "vec_id", "embedding",
      Similarity.pqCodebooks(emb, "embedding", m = 4, ksub = 16), m = 4, dsub = 8)
    val bad = codes.filter(size(col("codes")) =!= 4 ||
      exists(col("codes"), c => c < 0 || c >= 16)).count()
    assert(bad == 0, "every vector must get 4 codes in [0, 16)")
  }

  test("IVFADC: nprobe=nlist degenerates to pqAdcTopK row-for-row; routing keeps cluster precision") {
    val rnd = new java.util.Random(11)
    val dim = 32
    val centers = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
    val rows = for (c <- centers.indices; i <- 0 until 12) yield
      (c.toLong * 12 + i,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    val emb = rows.toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") % 12 === 0)

    // full probe == pure ADC scan (routing filter is a no-op)
    val full = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 8, nprobe = 8, m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val adc = Similarity.pqAdcTopK(emb, q, "vec_id", "embedding", 5,
        m = 4, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == adc, "nprobe=nlist must equal the unrouted ADC scan")

    // narrow probe: returned neighbors still come from the query's cluster
    val routed = Similarity.ivfPqTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 2, m = 4, ksub = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val sameCluster = routed.count { case (qid, n) => qid / 12 == n / 12 }
    assert(sameCluster.toDouble / routed.size >= 0.9,
      s"only $sameCluster/${routed.size} IVFADC neighbors share the query's cluster")
    assert(routed.nonEmpty)
  }

  test("seeded IVF with nprobe = nlist degenerates to exact brute force") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val det = Similarity.ivfSeededTopK(emb, q, "vec_id", "embedding",
        k = 5, nprobe = 16, seedPred = col("vec_id") < 16)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(det == brute,
      "probing every cell must reproduce the exact top-k, rank for rank")
  }

  test("seeded-PQ ADC scores are bit-identical under repartitioning") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 5)
    def run(parts: Int) = Similarity.pqSeededAdcTopK(
        emb.repartition(parts), q, "vec_id", "embedding",
        k = 5, m = 8, seedPred = col("vec_id") < 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val a = run(3)
    assert(a == run(11), "fixed-order ADC sums must not depend on partitioning")
    assert(a.nonEmpty)
  }

  test("seeded IVFADC with nprobe = nlist degenerates to seeded-PQ row-for-row") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    val full = rows(Similarity.ivfPqSeededTopK(emb, q, "vec_id", "embedding",
      k = 5, nprobe = 16, m = 8,
      cellSeedPred = col("vec_id") < 16, bookSeedPred = col("vec_id") < 16))
    val pq = rows(Similarity.pqSeededAdcTopK(emb, q, "vec_id", "embedding",
      k = 5, m = 8, seedPred = col("vec_id") < 16))
    assert(full == pq, "probing every routing cell must reduce to plain ADC")
  }

  test("IVF ANN top-k achieves high recall vs brute force at nlist=64") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding", 5,
        nlist = 64, nprobe = 24, kmeansIters = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall too low")
  }

  test("SQL registration: custom expressions callable from spark.sql") {
    graft.plans.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  simhash64(array('a','b')) AS h,
        |  size(minhash_signature(array('a','b'), 16)) AS k,
        |  size(word_shingle_hashes(array('a','b','c'), 2)) AS ws,
        |  size(char_shingle_hashes('abcdef', 3)) AS cs
        |""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-15)
    assert(row.getInt(2) == 16)
    assert(row.getInt(3) == 2)
    assert(row.getInt(4) == 4)
  }

  test("brute-force top-k ranks by true cosine, ties broken by id") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val q = emb.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    // manual
    val rows = emb.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val qv = rows.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val manual = rows.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
    assert(got.toSeq == manual.toSeq)
  }

  test("semanticNearDups pairs are a verified subset of brute force with high recall on clustered dups") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val pairs = Dedup.semanticNearDups(emb, "vec_id", "embedding",
        threshold = 0.4, bandBits = 6, numBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.nonEmpty, "fixture has 0.4+ pairs; banding must recall some")
    // every reported pair is exact-verified and ordered
    pairs.foreach { case (a, b, c) =>
      assert(a < b && c >= 0.4, s"bad pair ($a,$b,$c)")
    }
    // subset of brute force (cosine via the same codegen'd expression)
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        probe = lit(true), threshold = 0.4)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(pairs.forall(p => brute.contains((p._1, p._2))),
      "LSH-recalled pairs must all be true pairs")
    // clustered near-dups (synthetic cosine ≈ 1) are recalled ~always
    val base = emb.limit(5).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val dups = base.map { case (id, v) => (id + 1000000L, v.map(x => x * 2.0f)) }
    val withDups = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect() ++ dups
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(withDups.toSeq.map(t => org.apache.spark.sql.Row(t._1, t._2.toSeq)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)))))
    val found = Dedup.semanticNearDups(df, "vec_id", "embedding",
        threshold = 0.9, bandBits = 8, numBands = 16)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    base.foreach { case (id, _) =>
      assert(found.contains((id, id + 1000000L)),
        s"scaled duplicate of $id (cosine 1) must be recalled at 8x16 banding")
    }
  }

  test("multi-probe semantic dedup recalls at least as many true pairs as exact buckets") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val brute = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        probe = lit(true), threshold = 0.3)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    def lsh(bits: Int, probe: Int): Set[(Long, Long)] =
      Dedup.semanticNearDups(emb, "vec_id", "embedding", threshold = 0.3,
          bandBits = bits, numBands = 16, probeDepth = probe)
        .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val exact8 = lsh(8, 0)
    val mp8 = lsh(8, 1)
    assert(mp8.subsetOf(brute), "probed candidates must still be exact-verified")
    assert(exact8.subsetOf(mp8), "probing only ADDS candidate buckets")
    assert(mp8.size > exact8.size,
      s"single-bit probes must lift recall on weakly-clustered fixtures: " +
        s"exact=${exact8.size} mp=${mp8.size} brute=${brute.size}")
  }

  test("incremental semantic probe equals symmetric pairs restricted to new x corpus") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val incr = Dedup.semanticNearDupsAgainst(
        emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.4, bandBits = 6, numBands = 16)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    val sym = Dedup.semanticNearDups(emb, "vec_id", "embedding",
        threshold = 0.4, bandBits = 6, numBands = 16)
      .select("id_1", "id_2").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (n, c) => n % 10 == 0 && c % 10 != 0 }.toSet
    assert(incr == sym,
      "probe-vs-corpus must find exactly the symmetric cross pairs")
  }

  test("containmentPairs finds whole-quotation subsets directionally") {
    import graft.functions.TextFunctions
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro alpha beta gamma delta outro more text"),
      (3L, "unrelated words only here")
    ).toDF("doc_id", "text")
    def sh = TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)
    val out = Dedup.containmentPairs(df, "doc_id", sh, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // doc1's two 3-gram shingles both occur in doc2 -> containment 1.0;
    // the reverse direction is 2/6 and doc3 shares nothing
    assert(out.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("semanticDedup maps every row, canonical ids are component minima") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.4, bandBits = 6, numBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == emb.count(), "every embedding row must be mapped")
    out.foreach { case (id, canon, isCanon) =>
      assert(canon <= id, s"canonical $canon must be <= member $id")
      assert((isCanon == 1) == (canon == id))
    }
    // canonical rows map to themselves
    val canonSet = out.map(_._2).toSet
    val selfMap = out.filter(t => canonSet.contains(t._1)).map(t => t._1 -> t._2).toMap
    canonSet.foreach(c => assert(selfMap(c) == c, s"canonical $c must map to itself"))
  }

  test("prefixJaccardPairs equals brute-force exact Jaccard (prefix filter is complete)") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val sh = TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", sh, p = 1, q = 2)
      .select("id_1", "id_2", "n_shared")
      .as[(Long, Long, Long)].collect().toSet
    // brute force: all-pairs exact Jaccard over the same distinct shingles
    val tf = docs.select(col("doc_id").as("id"),
      explode(array_distinct(sh)).as("t"))
    val sizes = tf.groupBy("id").agg(count(lit(1)).as("n"))
    val brute = tf.alias("a").join(tf.alias("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_1"), col("b.id").as("id_2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_1"), col("n").as("n1")), "id_1")
      .join(sizes.select(col("id").as("id_2"), col("n").as("n2")), "id_2")
      .filter(lit(2L) * col("inter") >= col("n1") + col("n2") - col("inter"))
      .select("id_1", "id_2", "inter")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute,
      s"prefix filter must lose nothing: got ${got.size} vs brute ${brute.size}")
    assert(got.nonEmpty, "fixture must contain exact near-dups at t=1/2")
  }

  test("prefixJaccardPairs: handcrafted sets at the threshold boundary") {
    val df = Seq(
      (1L, "a b c d"),   // {abc…}: tokens a b c d -> 2 3-shingles
      (2L, "a b c d"),   // exact dup of 1 -> J = 1
      (3L, "a b c e"),   // shares 1 of 3 distinct shingles with 1? compute
      (4L, "x y z w")    // disjoint
    ).toDF("doc_id", "text")
    val sh = TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)
    val out = Dedup.prefixJaccardPairs(df, "doc_id", sh, p = 1, q = 2)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    // doc1/doc2 identical -> pair; doc3 shares shingle "a b c" with both
    // (J = 1/3 < 1/2 -> excluded); doc4 disjoint
    assert(out == Set((1L, 2L)))
    // lower threshold 1/4 admits the 1-3 and 2-3 pairs
    val loose = Dedup.prefixJaccardPairs(df, "doc_id", sh, p = 1, q = 4)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(loose == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("knnClassify: modal neighbor label wins, vote ties break to the smaller label") {
    // corpus: two clusters on orthogonal axes; labels 1 (x-axis) and
    // 2 (y-axis). A probe on the x-axis must classify 1 with all k votes.
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f), 1), (11L, Array(0.9f, 0.1f), 1),
      (12L, Array(0.0f, 1.0f), 2), (13L, Array(0.1f, 0.9f), 2))
      .toDF("vec_id", "embedding", "label")
    val probeX = Seq((1L, Array(1.0f, 0.05f), 0))
      .toDF("vec_id", "embedding", "label")
    val gotX = Similarity.knnClassify(corpus, probeX, "vec_id", "embedding",
        "label", k = 2).as[(Long, Int, Long)].collect().toSeq
    assert(gotX == Seq((1L, 1, 2L)))
    // diagonal probe, k=2: one neighbor from each cluster -> 1-1 vote tie
    // -> deterministic pick of the SMALLER label
    val probeDiag = Seq((2L, Array(1.0f, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val gotD = Similarity.knnClassify(corpus, probeDiag, "vec_id",
        "embedding", "label", k = 2).as[(Long, Int, Long)].collect().toSeq
    assert(gotD == Seq((2L, 1, 1L)))
    // partition-independence
    val rep = Similarity.knnClassify(corpus.repartition(5), probeDiag,
        "vec_id", "embedding", "label", k = 2)
      .as[(Long, Int, Long)].collect().toSeq
    assert(rep == gotD)
  }

  test("centroidShift: exact L1 between slice centroids; empty slice NULL") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // label 1: slice0 (1,0), slice1 (0,1) -> per-dim mean shift 1.0 each
    // label 2: only slice0 -> NULL shift
    val df = Seq(
      (0L, 1, Seq(1.0f, 0.0f)), (1L, 1, Seq(0.0f, 1.0f)),
      (2L, 2, Seq(0.5f, 0.5f))).toDF("vec_id", "label", "embedding")
    val out = Similarity.centroidShift(df, col("label"),
        pmod(col("vec_id"), lit(2L)), col("embedding"), dim = 2)
      .collect().map(r => r.getInt(0) -> r).toMap
    val l1 = out(1)
    assert(l1.getLong(1) == 1L && l1.getLong(2) == 1L)
    assert(l1.getLong(3) == 2000000L)   // |1e6·1-0| + |0-1e6·1|
    assert(l1.getLong(4) == 1000L)      // mean abs shift 1.0 -> 1000 milli
    val l2 = out(2)
    assert(l2.getLong(1) == 1L && l2.getLong(2) == 0L && l2.isNullAt(4))
    val rep = Similarity.centroidShift(df.repartition(5), col("label"),
        pmod(col("vec_id"), lit(2L)), col("embedding"), dim = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(rep == out.map { case (k, r) => k -> r.getLong(3) })
  }

  test("jaccardThresholdSweep: graded overlaps land in exact bands, cumulative") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    // doc1/doc3 identical (J=1 -> band 10); doc1-doc2 share 4 of 12
    // distinct trigrams (J=1/3 -> band 3); doc4 disjoint -> no pair
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f x y z w"),
      (3L, "a b c d e f g h i j"),
      (4L, "p q r s t u v")).toDF("doc_id", "text")
    val out = Dedup.jaccardThresholdSweep(df, "doc_id",
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3),
        p = 1, q = 10, bands = 10)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // pairs: (1,2) band 3, (2,3) band 3, (1,3) band 10
    assert(out == Seq((3L, 2L, 3L), (10L, 1L, 1L)))
    val rep = Dedup.jaccardThresholdSweep(df.repartition(5), "doc_id",
        TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3),
        p = 1, q = 10, bands = 10)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(rep == out)
  }

  test("labelOutliers: farthest-from-centroid first, exact integer ranking") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, 1, Seq(0.0f, 0.0f)), (2L, 1, Seq(0.1f, 0.0f)),
      (3L, 1, Seq(-0.1f, 0.0f)), (4L, 1, Seq(5.0f, 5.0f)),
      (5L, 2, Seq(1.0f, 1.0f)), (6L, 2, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.labelOutliers(df, col("vec_id"), col("label"),
        col("embedding"), dim = 2, k = 2)
      .select("label", "rank", "vec_id", "dist2_scaled")
      .as[(Int, Long, Long, Long)].collect().toSeq.sorted
    // label 1: vec 4 is the outlier by far; among 1..3 the centroid is
    // pulled toward (1.225, 1.25), so vec 3 at (-0.1, 0) is next-farthest
    assert(out.filter(_._1 == 1).map(x => (x._2, x._3)) ==
      Seq((1L, 4L), (2L, 3L)))
    // label 2: two identical members -> zero distance, ties by id
    val l2 = out.filter(_._1 == 2)
    assert(l2.map(x => (x._2, x._3)) == Seq((1L, 5L), (2L, 6L)))
    assert(l2.forall(_._4 == 0L))
    val rep = Similarity.labelOutliers(df.repartition(5), col("vec_id"),
        col("label"), col("embedding"), dim = 2, k = 2)
      .select("label", "rank", "vec_id", "dist2_scaled")
      .as[(Int, Long, Long, Long)].collect().toSeq.sorted
    assert(rep == out)
  }

  test("randomProjection: exact signed integer sums under the seeded matrix") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val vec = Array(1.0f, -2.0f, 0.5f, 3.25f)
    val df = Seq((1L, vec.toSeq)).toDF("vec_id", "embedding")
    val signs = Similarity.projectionSigns(dim = 4, outDims = 2, seed = 7L)
    val expected = signs.map(row =>
      row.zip(vec).map { case (s, x) =>
        s * math.floor(x.toDouble * 1000000.0).toLong }.sum)
    val out = Similarity.randomProjection(df, col("vec_id"), col("embedding"),
        dim = 4, outDims = 2, seed = 7L)
      .as[(Long, Long, Long)].collect().head
    assert(out == ((1L, expected(0), expected(1))))
    // signs are ±1 and deterministic for a (seed, shape)
    assert(signs.flatten.forall(s => s == 1 || s == -1))
    assert(Similarity.projectionSigns(4, 2, 7L).map(_.toSeq).toSeq ==
      signs.map(_.toSeq).toSeq)
    // a different seed produces a different matrix (with 8 signs the
    // collision chance is 1/256 per seed pair; these two differ)
    assert(Similarity.projectionSigns(4, 2, 8L).map(_.toSeq).toSeq !=
      signs.map(_.toSeq).toSeq)
  }

  test("sourceOverlap: pairwise shared fingerprints with both containments") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // A: {x, y, z}; B: {x, y, w}; C: {q} - A-B share 2, C shares nothing
    val df = Seq(("A", "x"), ("A", "y"), ("A", "z"), ("A", "x"),
        ("B", "x"), ("B", "y"), ("B", "w"), ("C", "q"))
      .toDF("source", "content")
    val out = Dedup.sourceOverlap(df, col("source"), col("content"))
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("B", "A", 2L, 3L, 3L, 666666L, 666666L)) ||
      out == Seq(("A", "B", 2L, 3L, 3L, 666666L, 666666L)),
      s"got $out")
    // duplicate content within a source counts once (distinct fingerprints)
    val asym = Seq(("A", "x"), ("B", "x"), ("B", "y"), ("B", "z"), ("B", "w"))
      .toDF("source", "content")
    val r = Dedup.sourceOverlap(asym, col("source"), col("content"))
      .as[(String, String, Long, Long, Long, Long, Long)].collect().head
    assert(r._3 == 1L && r._6 != r._7,
      "containment must be asymmetric when the sides differ in size")
  }

  test("silhouette: separated clusters score high, one label is NULL") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // two tight, far-apart 2-d clusters
    val rows = Seq(
      (1L, "a", Seq(0.0f, 0.01f)), (2L, "a", Seq(0.01f, 0.0f)),
      (3L, "b", Seq(1.0f, 0.99f)), (4L, "b", Seq(0.99f, 1.0f)))
    val df = rows.toDF("vec_id", "label", "embedding")
    val out = Similarity.silhouette(df, col("vec_id"), col("label"),
        col("embedding"), dim = 2)
      .orderBy("label")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1) == Seq("a", "b") && out.forall(_._2 == 2L))
    assert(out.forall(_._4 > 900000L),
      s"separated clusters must score near 1e6, got $out")
    // a single label has no 'other' centroid: NULL scores
    val one = Similarity.silhouette(
        rows.filter(_._2 == "a").toDF("vec_id", "label", "embedding"),
        col("vec_id"), col("label"), col("embedding"), dim = 2)
      .as[(String, Long, Option[Long], Option[Long])].collect().head
    assert(one._3.isEmpty && one._4.isEmpty)
    // overlapping clusters score low
    val mixed = Seq(
      (1L, "a", Seq(0.0f, 0.0f)), (2L, "a", Seq(1.0f, 1.0f)),
      (3L, "b", Seq(0.0f, 0.05f)), (4L, "b", Seq(1.0f, 0.95f)))
      .toDF("vec_id", "label", "embedding")
    val lo = Similarity.silhouette(mixed, col("vec_id"), col("label"),
        col("embedding"), dim = 2)
      .as[(String, Long, Long, Long)].collect()
    assert(lo.forall(_._4 < 500000L), s"overlapping clusters got ${lo.toSeq}")
  }

  test("dedupSavings: multiplicity histogram with byte savings") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val df = Seq("aaaa", "aaaa", "aaaa", "bb", "bb", "c")
      .toDF("text").withColumn("b", octet_length(col("text")))
    val out = graft.operators.Dedup.dedupSavings(df, col("text"), col("b"))
      .orderBy("n_copies")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 0L, 0L),    // "c"
      (2L, 1L, 1L, 2L),    // "bb": one extra copy of 2 bytes
      (3L, 1L, 2L, 8L)))   // "aaaa": two extra copies of 4 bytes
  }

  test("mutualTopMatches: reciprocal pairs only, each id at most once") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // three tight pairs plus a lone outlier; every pair member's best
    // match is its partner, the outlier has no reciprocal partner
    def v(a: Double, b: Double, c: Double, d: Double) = Seq(a.toFloat,
      b.toFloat, c.toFloat, d.toFloat)
    val rows = Seq(
      (1L, v(1, 0, 0, 0.00)), (2L, v(1, 0, 0, 0.01)),
      (3L, v(0, 1, 0, 0.00)), (4L, v(0, 1, 0, 0.01)),
      (5L, v(0, 0, 1, 0.00)), (6L, v(0, 0, 1, 0.01)),
      (7L, v(0.6, 0.6, 0.6, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.mutualTopMatches(df, "vec_id",
        "embedding", bandBits = 2, numBands = 16)
      .orderBy("id_1")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (3L, 4L), (5L, 6L)),
      s"got $out")
    // no id can appear in two mutual pairs by construction
    val ids = out.flatMap(p => Seq(p._1, p._2))
    assert(ids.distinct.size == ids.size)
    assert(out.forall(_._3 > 0.99), "pair cosines are near 1 by design")
    // non-integral ids are rejected at plan time: the argmax negates the
    // id, and unary minus on a string null-casts under non-ANSI mode
    val strIds = rows.map { case (i, e) => (s"doc_$i", e) }
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Similarity.mutualTopMatches(strIds, "vec_id",
        "embedding", bandBits = 2, numBands = 16)
    }
    assert(ex.getMessage.contains("integral"))
  }

  test("dedupEval: TP/FP/FN bookkeeping over pair sets") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val est = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_1", "id_2")
    val exact = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("id_1", "id_2")
    val r = graft.operators.Dedup.dedupEval(est, exact)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(r == ((3L, 3L, 2L, 1L, 1L, 666666L, 666666L)), s"got $r")
    // empty estimate: precision NULL, recall 0
    val r2 = graft.operators.Dedup.dedupEval(est.limit(0), exact)
      .select("precision_ppm", "recall_ppm")
      .as[(Option[Long], Option[Long])].collect().head
    assert(r2 == ((None, Some(0L))))
  }

  test("suffixDuplicateSpans equals brute-force window extraction") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // within-doc repetition, cross-doc sharing, adjacent-run merging, and
    // docs with nothing duplicated — checked against an in-memory oracle
    val docs = Seq(
      (1L, "abcabcabcabc"),          // periodic: within-doc duplication
      (2L, "xxTHEQUICKBROWNFOXyy"),  // shares the middle with doc 3
      (3L, "ppTHEQUICKBROWNFOXqq"),
      (4L, "nothing-in-common-here"),
      (5L, "abcabc1234"))            // shares a short prefix with doc 1
    // L = 5 (not a power of two: exercises the composite-overlap step)
    val L = 5
    def brute(rows: Seq[(Long, String)], minLen: Int): Set[(Long, Int, Int, Int)] = {
      val wins = for {
        (id, t) <- rows
        p <- 0 to t.length - minLen
      } yield (id, p, t.substring(p, p + minLen))
      val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
      val dup = wins.filter(w => counts(w._3) >= 2)
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      dup.toSeq.flatMap { case (id, ps) =>
        // coalesce consecutive positions
        val runs = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse
        runs.map { case (s0, e0) =>
          (id, s0, e0 + minLen, e0 + minLen - s0) }
      }.toSet
    }
    val got = graft.operators.Dedup.suffixDuplicateSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text", minLen = L)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got == brute(docs, L), s"got $got\nexp ${brute(docs, L)}")
    // and at L = 8 (power of two: the two composite windows tile exactly)
    val got8 = graft.operators.Dedup.suffixDuplicateSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text", minLen = 8)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(got8 == brute(docs, 8), s"got $got8\nexp ${brute(docs, 8)}")
  }

  test("suffixDuplicateSpans catches the duplicated span the winnow df-cut drops") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // 250 docs all share a 60-char boilerplate — the MOST duplicated
    // content in the corpus. The winnow-containment path df-caps shingles
    // at maxDocFreq=200, so every boilerplate fingerprint is dropped and
    // NO pair survives: the df cut's structural blind spot is precisely
    // the heaviest duplication. The exact suffix pass reports the span in
    // every doc.
    val boiler = "the quick brown fox jumps over the lazy dog again and again."
    assert(boiler.length == 60)
    // per-doc prefix: a 2-char base-26 code repeated 5x. Two docs agree on
    // a window iff it touches at most the LAST prefix char (250 docs over
    // 26 residues ⇒ every last-char class has ≥ 2 members), so the maximal
    // shared span is [9, 70): last prefix char + the whole boilerplate.
    def code(i: Int) = ("" + ('a' + i / 26).toChar + ('a' + i % 26).toChar) * 5
    val docs = (0 until 250)
      .map(i => (i.toLong, code(i) + boiler))
      .toDF("doc_id", "text")
    val winnowPairs = graft.operators.Dedup.containmentPairs(
      graft.operators.TextAnalysis.winnowedFingerprints(docs, "text", "doc_id"),
      "id", col("fps"), threshold = 0.6, maxDocFreq = 200L)
    assert(winnowPairs.count() == 0,
      "df-capped winnow containment must miss the mass-duplicated span")
    val spans = graft.operators.Dedup.suffixDuplicateSpans(
        docs, "doc_id", "text", minLen = 40)
      .as[(Long, Int, Int, Int)].collect()
    assert(spans.length == 250, s"expected a span per doc, got ${spans.length}")
    assert(spans.forall(s => s._2 == 9 && s._3 == 70 && s._4 == 61),
      s"every doc's duplicated span is [9, 70) (last code char + boilerplate): ${spans.take(3).toSeq}")
  }

  test("suffix hot-class guard is result-identical on a boilerplate-heavy corpus") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // the previous fixture's worst case on purpose: 250 docs share a
    // 60-char boilerplate, so every duplicated window's equality class has
    // ~250 members. hotClassSize=3 routes ALL of them through the
    // partial-agg + broadcast leg (and hash-collision routing of cold
    // classes is harmless by construction) — output must be bit-identical
    // to the single-window shape the bench runs.
    val boiler = "the quick brown fox jumps over the lazy dog again and again."
    def code(i: Int) = ("" + ('a' + i / 26).toChar + ('a' + i % 26).toChar) * 5
    val docs = (0 until 250)
      .map(i => (i.toLong, code(i) + boiler))
      .toDF("doc_id", "text")
    val guarded = graft.operators.Dedup.suffixDuplicateSpans(
        docs, "doc_id", "text", minLen = 40, hotClassSize = 3L)
      .as[(Long, Int, Int, Int)].collect().toSet
    val plain = graft.operators.Dedup.suffixDuplicateSpans(
        docs, "doc_id", "text", minLen = 40)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(guarded == plain,
      s"hot-class guard changed the result (only-guarded=${guarded -- plain}, " +
        s"only-plain=${plain -- guarded})")
    assert(guarded.size == 250, s"expected a span per doc, got ${guarded.size}")
  }

  test("suffix winnow-prefilter is candidate-complete: identical spans, incl. internal-only repeats") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again."
    // doc 900 duplicates its span ONLY INTERNALLY (no partner doc): the
    // prefilter must admit it via the repeated-fingerprint flag, not the
    // shared-postings leg
    val internalOnly = "ZYXWVUTSRQPONMLKJIHGFEDCBA0123456789 unique prefix " +
      boiler + " filler middle text " + boiler
    // docs 0/1 share the boilerplate pairwise; docs 100.. are singletons
    val docs = (Seq(
      (0L, "alpha start " + boiler + " alpha end"),
      (1L, "beta opening " + boiler + " beta closing"),
      (900L, internalOnly)) ++
      (100L until 140L).map(i =>
        (i, s"singleton document number $i with its own distinct content " +
          s"padding padding-$i tail-$i of sufficient length for windows")))
      .toDF("doc_id", "text")
    val on = graft.operators.Dedup.suffixDuplicateSpans(
        docs, "doc_id", "text", minLen = 30)
      .as[(Long, Int, Int, Int)].collect().toSet
    val off = graft.operators.Dedup.suffixDuplicateSpans(
        docs, "doc_id", "text", minLen = 30, winnowPrefilter = false)
      .as[(Long, Int, Int, Int)].collect().toSet
    assert(on == off,
      s"prefilter changed the result (only-on=${on -- off}, only-off=${off -- on})")
    assert(on.exists(_._1 == 900L),
      "internal-only duplicated span must survive the prefilter")
    assert(Seq(0L, 1L).forall(id => on.exists(_._1 == id)),
      "cross-doc duplicated spans must survive the prefilter")
  }

  // clustered embeddings: 4 tight clusters of 8 around orthogonal axes,
  // so exact top-k neighbors are the in-cluster vectors
  private def clusteredEmb = {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    (0 until 32).map { i =>
      val c = i % 4
      val v = Array.tabulate(8)(j =>
        (if (j == c) 10.0f else 0.0f) + 0.01f * ((i * 8 + j) % 7))
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  test("recallAudit: exact result scores recall 1, corrupted result fails the floor") {
    val emb = clusteredEmb
    val qs = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
    val ok = Similarity.recallAudit(exact, emb, qs, "vec_id", "embedding",
      k = 5, floorPpm = 1000000L).collect()
    assert(ok.length == 4 && ok.forall(_.getAs[Boolean]("recall_ok")),
      s"exact top-k must meet a recall floor of 1.0: ${ok.toSeq}")
    // negative control: an "ANN" that returns each query's WORST neighbors
    // (ascending score) must fail any meaningful floor
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").asc, col("neighbor_id").asc)
    val worst = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 31)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val bad = Similarity.recallAudit(worst, emb, qs, "vec_id", "embedding",
      k = 5, floorPpm = 200000L).collect()
    assert(bad.forall(!_.getAs[Boolean]("recall_ok")),
      s"worst-neighbor control must fail the floor: ${bad.toSeq}")
    // summary grain agrees: exact passes at 10^6, control fails at 0.2
    val sOk = Similarity.recallAuditSummary(exact, emb, qs, "vec_id",
      "embedding", k = 5, floorPpm = 1000000L).collect()
    assert(sOk.length == 1 && sOk.head.getAs[Long]("n_queries") == 4L &&
      sOk.head.getAs[Boolean]("recall_ok"))
    val sBad = Similarity.recallAuditSummary(worst, emb, qs, "vec_id",
      "embedding", k = 5, floorPpm = 200000L).collect()
    assert(sBad.length == 1 && !sBad.head.getAs[Boolean]("recall_ok"))
  }

  test("recallAudit is tie-robust: any k-subset of an all-tied corpus passes") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    // every corpus vector identical ⇒ all cosines tie at 1.0; ANY returned
    // k-subset is a valid top-k and must count k hits
    val emb = (0 until 12).map(i => (i.toLong, Array.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") < 2)
    // adversarial pick: the HIGHEST ids (exact tie-break prefers lowest)
    val picked = qs.select(col("vec_id").as("query_id"))
      .crossJoin(emb.filter(col("vec_id") >= 9)
        .select(col("vec_id").as("neighbor_id")))
      .withColumn("rank", (col("neighbor_id") - 8).cast("int"))
    val got = Similarity.recallAudit(picked, emb, qs, "vec_id", "embedding",
      k = 3, floorPpm = 1000000L).collect()
    assert(got.forall(_.getAs[Boolean]("recall_ok")),
      s"tied neighbors permuted across the cut must still be full recall: ${got.toSeq}")
  }

  test("semanticNearDupsIvf: complete within clusters, cell-local candidates") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val emb = clusteredEmb
    // anchors: one vector per cluster (vec_id 0..3 hit clusters 0..3)
    val anchors = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val got = Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
        threshold = 0.9, cells = anchors, nassign = 1)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    // ground truth: all-pairs exact cosine (in-cluster pairs are ~1.0 by
    // construction, cross-cluster ~0)
    val truth = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        probe = lit(true), threshold = 0.9)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture must contain in-cluster near-dup pairs")
    assert(got == truth,
      s"cluster-aligned anchors must recover exactly the in-cluster pairs " +
        s"(missing=${(truth -- got).size}, extra=${(got -- truth).size})")
    // skew guard: a 1-cell degenerate anchor set puts all 32 vectors in
    // one cell; maxCellSize below that must drop everything, not square it
    val oneCell = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val guarded = Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
      threshold = 0.0, cells = oneCell, nassign = 1, maxCellSize = 10L)
    assert(guarded.count() == 0, "oversized-cell guard must drop the cell")
    // multi-assignment recovers a boundary pair single assignment misses:
    // two vectors between two anchors, each snapping to a different cell
    val boundary = Seq(
      (100L, Array(10.0f, 0.0f, 0.0f, 0.0f)),          // anchor A
      (101L, Array(0.0f, 10.0f, 0.0f, 0.0f)),          // anchor B
      (102L, Array(10.0f, 9.0f, 0.0f, 0.0f)),          // nearer A
      (103L, Array(9.0f, 10.0f, 0.0f, 0.0f))           // nearer B
    ).toDF("vec_id", "embedding")
    val bAnchors = boundary.filter(col("vec_id") < 102)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    def pairs(na: Int) = Dedup.semanticNearDupsIvf(boundary, "vec_id",
        "embedding", threshold = 0.95, cells = bAnchors, nassign = na)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(!pairs(1).contains((102L, 103L)),
      "single assignment splits the boundary pair (the geometry this test pins)")
    assert(pairs(2).contains((102L, 103L)),
      "nassign=2 must recover the boundary pair")
  }

  test("bucket skew guard on every other banded/cell pair operator: self-joins drop a hot bucket; probes count only the corpus side") {
    // identical rows share every band / cell, so one bucket holds them all
    val cfg = Dedup.LshConfig(numHashes = 16)
    def docs(ids: Seq[Long]) =
      ids.map(i => (i, Seq("near", "dup", "shingles"))).toDF("doc_id", "sh")
    def vecs(ids: Seq[Long]) =
      ids.map(i => (i, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (mhTable, ivfTable) = ("t_guard_mh_spec", "t_guard_ivf_spec")
    def dropIndexes(): Unit =
      Seq("_docs", "_bands", "_cells", "_centroids", "_meta").foreach { s =>
        graft.sources.Sinks.dropTableAndLocation(spark, mhTable + s)
        graft.sources.Sinks.dropTableAndLocation(spark, ivfTable + s)
      }
    dropIndexes()
    val (corpusIds, batchIds) = (1L to 4L, Seq(5L))
    Dedup.writeMinHashIndex(docs(corpusIds), "doc_id", col("sh"), cfg,
      mhTable, numBuckets = 4)
    Dedup.writeSemanticIvfIndex(vecs(corpusIds), "vec_id", "embedding",
      vecs(Seq(0L)).select(col("vec_id").as("cell"), col("embedding").as("centroid")),
      ivfTable, nassign = 1, numBuckets = 4)

    // self operators over 5 identical rows; None = the operator's default limit
    val selfOps: Seq[(String, Option[Long] => org.apache.spark.sql.DataFrame)] = Seq(
      "minHashNearDups" -> (max => Dedup.minHashNearDups(docs(1L to 5L),
        "doc_id", col("sh"), 0.5, max.fold(cfg)(m => cfg.copy(maxBucketSize = m)))),
      "semanticNearDups" -> (max => max.fold(
        Dedup.semanticNearDups(vecs(1L to 5L), "vec_id", "embedding", 0.9))(m =>
        Dedup.semanticNearDups(vecs(1L to 5L), "vec_id", "embedding", 0.9,
          maxBucketSize = m))))
    val allTen = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet
    selfOps.foreach { case (name, run) =>
      assert(pairs(run(Some(3L))) == Set.empty, s"$name: a 5-row bucket over limit 3 must drop")
      assert(pairs(run(None)) == allTen, s"$name: the default limit must keep all 10 pairs")
    }

    // probe operators: 4 identical corpus rows + 1 matching batch row
    val probeOps: Seq[(String, Long => org.apache.spark.sql.DataFrame)] = Seq(
      "minHashNearDupsAgainst" -> (m => Dedup.minHashNearDupsAgainst(
        docs(corpusIds), docs(batchIds), "doc_id", col("sh"), col("sh"), 0.5,
        cfg.copy(maxBucketSize = m))),
      "minHashNearDupsAgainstIndex" -> (m => Dedup.minHashNearDupsAgainstIndex(
        docs(batchIds), "doc_id", col("sh"), 0.5, mhTable,
        cfg.copy(maxBucketSize = m))),
      "semanticNearDupsAgainst" -> (m => Dedup.semanticNearDupsAgainst(
        vecs(corpusIds), vecs(batchIds), "vec_id", "embedding", 0.9,
        maxBucketSize = m)),
      "semanticNearDupsIvfAgainstIndex" -> (m =>
        Dedup.semanticNearDupsIvfAgainstIndex(vecs(batchIds), "vec_id",
          "embedding", 0.9, ivfTable, nassign = 1, maxCellSize = m)))
    val allFour = corpusIds.map(c => (5L, c)).toSet
    probeOps.foreach { case (name, run) =>
      assert(pairs(run(4L)) == allFour,
        s"$name: the batch row must not count toward the 4-row corpus bucket")
      assert(pairs(run(3L)) == Set.empty, s"$name: a 4-row corpus bucket over limit 3 must drop")
    }
    dropIndexes()
  }

  test("two-level IVF routing: exhaustive probe == flat; tight clusters survive gprobe=2") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val emb = clusteredEmb
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    def pairs(gp: Int) = Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
        threshold = 0.9, cells = anchors, nassign = 2, groupProbe = gp)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val flat = pairs(0)
    assert(flat.nonEmpty)
    // exhaustive group probe must reproduce flat routing exactly
    // (ngroups = ceil(sqrt(8)) = 3)
    assert(pairs(3) == flat,
      "gprobe = ngroups (exhaustive) must be identical to flat routing")
    // tight clusters route coherently: even gprobe=1 keeps every
    // in-cluster pair (each cluster's members share their best group)
    assert(pairs(1) == flat,
      "cluster-coherent corpus must survive a single-group probe")
    // level-1 grouping is deterministic: same inputs, same groups
    val (g1, a1) = Similarity.groupCentroidsDriver(
      Array(1.0, 0, 0, 1, 0.9, 0.1, -1, 0), dim = 2, ngroups = 2)
    val (g2, a2) = Similarity.groupCentroidsDriver(
      Array(1.0, 0, 0, 1, 0.9, 0.1, -1, 0), dim = 2, ngroups = 2)
    assert(g1.toSeq == g2.toSeq && a1.toSeq == a2.toSeq)
  }

  test("two-level IVF with SEEDED groups (dedup_semantic_ivf2 shape)") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val emb = clusteredEmb
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    // seeded level-1 quantizer: every other anchor, grp = cell/2
    val seededGroups = emb.filter(col("vec_id") < 8 && col("vec_id") % 2 === 0)
      .select((col("vec_id") / 2).cast("long").as("cell"),
        col("embedding").as("centroid"))
    def pairs(gp: Int, gc: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
          threshold = 0.9, cells = anchors, nassign = 2, groupProbe = gp,
          groupCells = gc)
        .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val flat = pairs(0, None)
    assert(flat.nonEmpty)
    // exhaustive probe over the seeded quantizer is the same reduction
    // proof as for the k-means quantizer: identical to flat routing
    assert(pairs(4, Some(seededGroups)) == flat,
      "seeded groups with gprobe = ngroups (exhaustive) must equal flat")
    // capped probe only ever PRUNES candidates — never invents pairs
    val capped = pairs(1, Some(seededGroups))
    assert(capped.subsetOf(flat),
      "a capped group probe must produce a subset of the flat pairs")
    // groupCells without groupProbe is a caller error, not silent flat
    intercept[IllegalArgumentException] {
      Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
        threshold = 0.9, cells = anchors, groupCells = Some(seededGroups))
    }
    // assignToGroups: identity quantizer assigns every cell to itself;
    // a duplicated centroid ties to the LOWEST group index
    val cells = Array(1.0, 0, 0, 1, 0.7, 0.7)
    val idAssign = Similarity.assignToGroups(cells, 2, cells)
    assert(idAssign.toSeq == Seq(0, 1, 2))
    val dupGroups = Array(1.0, 0, 1.0, 0) // two identical groups
    assert(Similarity.assignToGroups(Array(1.0, 0), 2, dupGroups).toSeq
      == Seq(0), "cosine tie must break to the lowest group index")
  }

  test("ivfRouteCoherence: two-regime split under learned centroids; zero vectors excluded") {
    val spark0 = TestSpark.spark
    import spark0.implicits._
    def coh(emb: org.apache.spark.sql.DataFrame, nlist: Int,
            floorPpm: Long): org.apache.spark.sql.Row = {
      val cents = Similarity.kmeansCentroids(emb, "embedding", nlist,
        iters = 3)
      Dedup.ivfRouteCoherence(emb, "vec_id", "embedding",
        cents.select(col("cell").cast("long").as("cell"), col("centroid")),
        floorPpm).collect().head
    }
    // clustered regime (4 tight clusters): learned centroids sit on the
    // clusters, mean top-1 cosine ≈ 1 → clears the documented 0.7 floor
    val cRow = coh(clusteredEmb, nlist = 4, floorPpm = 700000L)
    assert(cRow.getAs[Boolean]("coherent"),
      s"clustered corpus must audit coherent at 0.7: $cRow")
    assert(cRow.getAs[Long]("n_routed") == 32L)
    // near-uniform regime (seeded 32-dim gaussians — low dims are never
    // far apart, so the regime needs realistic dimensionality): no
    // centroid set is coherent — the audit must REFUSE the 0.7 floor,
    // which is exactly the signal to route through multi-probe LSH
    val rnd = new java.util.Random(7)
    val uni = (0 until 256).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val uRow = coh(uni, nlist = 16, floorPpm = 700000L)
    assert(!uRow.getAs[Boolean]("coherent"),
      s"near-uniform corpus must fail the 0.7 coherence floor: $uRow")
    // the statistic itself separates the regimes by a wide band
    def meanPpm(r: org.apache.spark.sql.Row): Double =
      r.getAs[Long]("sum_cos_u").toDouble / r.getAs[Long]("n_routed")
    assert(meanPpm(cRow) > 900000.0 && meanPpm(uRow) < 600000.0,
      s"regime split: clustered=${meanPpm(cRow)} uniform=${meanPpm(uRow)}")
    // zero vectors route nowhere and are excluded from n_routed
    val withZero = clusteredEmb.union(
      Seq((999L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    val zRow = coh(withZero, nlist = 4, floorPpm = 700000L)
    assert(zRow.getAs[Long]("n_routed") == 32L,
      s"zero vector must not be counted as routed: $zRow")
  }

  test("exactRerank recovers the exact top-k from any covering shortlist") {
    val emb = clusteredEmb
    val qs = emb.filter(col("vec_id") < 4)
    val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id", "rank")
    // shortlist = exact top-20 REVERSED (worst-first ranks): rerank must
    // ignore the shortlist's own ordering and rebuild the true top-5
    val shortlist = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 20)
      .withColumn("rank", lit(21) - col("rank"))
    val reranked = Similarity.exactRerank(shortlist, emb, qs,
      "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank")
    assert(reranked.exceptAll(exact).isEmpty && exact.exceptAll(reranked).isEmpty,
      "rerank of a covering shortlist must equal the exact top-k")
  }

  test("ivfProbeDepth / ivfPairRecallFloorPpm: the declared scale curves") {
    // the audited scale points from RECALL.json (ncells 8/29/282/844)
    assert(Similarity.ivfProbeDepth(8) == 2)
    assert(Similarity.ivfProbeDepth(29) == 2)
    assert(Similarity.ivfProbeDepth(282) == 3)
    assert(Similarity.ivfProbeDepth(844) == 4)
    assert(Similarity.ivfProbeDepth(1 << 16) == 8, "cap at 8")
    assert(Similarity.ivfProbeDepth(8, nassign = 5) == 5,
      "probe depth never below the index's assignment multiplicity")
    // floor is monotone non-increasing in n and hits the declared bands
    assert(Similarity.ivfPairRecallFloorPpm(500) == 450000L)
    assert(Similarity.ivfPairRecallFloorPpm(2000) == 250000L)
    assert(Similarity.ivfPairRecallFloorPpm(20000) == 100000L)
    assert(Similarity.ivfPairRecallFloorPpm(60000) == 60000L)
    val pts = Seq(1L, 1000L, 1001L, 4000L, 4001L, 30000L, 30001L, 1000000L)
      .map(Similarity.ivfPairRecallFloorPpm)
    assert(pts == pts.sorted.reverse, s"floor must fall with n, got $pts")
  }

  test("asymmetric index probe: deeper nprobe yields a superset at equal corpus cost") {
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val ncells = Similarity.ivfCellCount(corpus.count())
    val anchors = corpus.orderBy("vec_id").limit(ncells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val table = "t_deep_probe_spec"
    Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
      graft.sources.Sinks.dropTableAndLocation(spark, table + s))
    Dedup.writeSemanticIvfIndex(corpus, "vec_id", "embedding", anchors, table)
    def pairs(np: Int) = Dedup.semanticNearDupsIvfAgainstIndex(batch,
        "vec_id", "embedding", 0.3, table, nprobe = np)
      .select("id_new", "id_corpus").collect().map(_.toSeq).toSet
    val sym = pairs(0)          // nprobe=0 → symmetric (depth = nassign)
    val deep = pairs(math.min(8, ncells))
    assert(sym.subsetOf(deep),
      "a deeper query-side probe must never lose a symmetric-probe pair")
    // at nprobe = ncells the probe is exhaustive over cells: it must find
    // every pair whose corpus endpoint the index assigned ANY cell — i.e.
    // all exact pairs (the corpus side at nassign=2 covers each vector)
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        col("vec_id") % 10 === 0, 0.3)
      .filter(col("id_1") % 10 === 0 =!= (col("id_2") % 10 === 0))
      .count()
    val exhaustive = pairs(math.min(64, ncells))
    assert(exhaustive.size >= sym.size && deep.size >= sym.size)
    assert(exact >= exhaustive.size,
      "probe pairs are exact-verified, so they can never exceed truth")
    Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
      graft.sources.Sinks.dropTableAndLocation(spark, table + s))
  }

  test("semanticIvfRecallAudit: counts match a direct replay; verdict is the integer cross-multiply") {
    import graft.operators.Dedup
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val n = emb.count()
    val ncells = Similarity.ivfCellCount(n)
    val anchors = emb.filter(col("vec_id") < ncells)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val row = Dedup.semanticIvfRecallAudit(emb, "vec_id", "embedding",
      threshold = 0.4, cells = anchors).collect().head
    val m = math.max(1L, n / 2000L)
    assert(row.getAs[Long]("n") == n)
    assert(row.getAs[Long]("probe_modulus") == m)
    assert(row.getAs[Long]("recall_floor_ppm") ==
      Similarity.ivfPairRecallFloorPpm(n))
    val truth = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      col("vec_id") % m === 0, 0.4).count()
    val found = Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding", 0.4,
        anchors, nassign = 2)
      .filter(col("id_1") % m === 0 || col("id_2") % m === 0).count()
    assert(row.getAs[Long]("truth_pairs") == truth)
    assert(row.getAs[Long]("found_pairs") == found)
    assert(row.getAs[Boolean]("recall_ok") ==
      (found * 1000000L >= Similarity.ivfPairRecallFloorPpm(n) * truth))
  }

  test("index lifecycle posture: past 512 cells build+probe route two-level and equal the in-plan route") {
    import graft.operators.Dedup
    import spark.implicits._
    // the policy's boundary is the contract every surface derives from
    assert(Similarity.ivfGroupProbePolicy(512) == 0)
    assert(Similarity.ivfGroupProbePolicy(513) == 8)
    // 2 000 vectors in 50 tight clusters, 600 anchor cells (> 512 → the
    // two-level posture), deterministic construction. The invariant under
    // test: the PERSISTED index (built by writeSemanticIvfIndex, probed by
    // semanticNearDupsIvfAgainstIndex) and the IN-PLAN route
    // (semanticNearDupsIvf at the same policy) must produce identical
    // cross pairs — i.e. build-time assignment and probe-time routing
    // carry the same posture end-to-end. A posture mismatch (flat build ×
    // two-level probe or vice versa) would silently shrink the candidate
    // intersection and fail this equality.
    def v(i: Int): Array[Float] = Array.tabulate(16) { j =>
      (if (j == i % 50 % 16) 10.0f else 0.0f) +
        0.01f * (((i * 31 + j * 17) % 13) - 6)
    }
    val emb = (0 until 2000).map(i => (i.toLong, v(i)))
      .toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val anchors = emb.filter(col("vec_id") < 600)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val table = "t_posture_spec"
    Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
      graft.sources.Sinks.dropTableAndLocation(spark, table + s))
    Dedup.writeSemanticIvfIndex(corpus, "vec_id", "embedding", anchors,
      table, numBuckets = 4)
    try {
      val idx = Dedup.semanticNearDupsIvfAgainstIndex(batch, "vec_id",
          "embedding", threshold = 0.8, table)
        .select("id_new", "id_corpus")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inPlan = Dedup.semanticNearDupsIvf(emb, "vec_id", "embedding",
          threshold = 0.8, cells = anchors, nassign = 2,
          groupProbe = Similarity.ivfGroupProbePolicy(600))
        .filter((col("id_1") % 10 === 0) =!= (col("id_2") % 10 === 0))
        .select(
          when(col("id_1") % 10 === 0, col("id_1")).otherwise(col("id_2"))
            .as("id_new"),
          when(col("id_1") % 10 === 0, col("id_2")).otherwise(col("id_1"))
            .as("id_corpus"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(idx.nonEmpty, "fixture must produce cross pairs at 0.8")
      assert(idx == inPlan, s"two-level index probe diverged from the " +
        s"in-plan two-level route (only-idx=${(idx -- inPlan).size}, " +
        s"only-plan=${(inPlan -- idx).size})")
      // delta-append under the same posture: append ≡ rebuild still holds
      val half = "t_posture_half_spec"
      Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
        graft.sources.Sinks.dropTableAndLocation(spark, half + s))
      Dedup.writeSemanticIvfIndex(corpus.filter(col("vec_id") % 10 =!= 7),
        "vec_id", "embedding", anchors, half, numBuckets = 4)
      Dedup.appendToSemanticIvfIndex(corpus.filter(col("vec_id") % 10 === 7),
        "vec_id", "embedding", half)
      val merged = spark.table(s"${half}_cells")
        .select(col("cell").cast("long"), col("id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rebuilt = spark.table(s"${table}_cells")
        .select(col("cell").cast("long"), col("id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(merged == rebuilt,
        "two-level append assignments diverge from the two-level rebuild")
      Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
        graft.sources.Sinks.dropTableAndLocation(spark, half + s))
    } finally
      Seq("_cells", "_docs", "_centroids", "_meta").foreach(s =>
        graft.sources.Sinks.dropTableAndLocation(spark, table + s))
  }

  test("assignToCellsTwoLevel: exhaustive probe equals the flat argmax; structured points survive probe=8") {
    // 600 cells in 50 tight clusters (dim 16), 200 query points from the
    // same construction — the drift bridge's shape at the two-level scale
    def v(i: Int): Array[Double] = Array.tabulate(16) { j =>
      (if (j == i % 50 % 16) 10.0 else 0.0) +
        0.01 * (((i * 31 + j * 17) % 13) - 6)
    }
    val cells = Array.tabulate(600)(v).flatten
    val pts = Array.tabulate(200)(i => v(i + 600)).flatten
    val flat = Similarity.assignToGroups(pts, 16, cells)
    // groupProbe <= 0 is the literal flat path
    assert(Similarity.assignToCellsTwoLevel(pts, 16, cells, 0).sameElements(flat))
    // probing every group IS the exhaustive argmax (tie discipline and
    // all) — the same reduction SketchSpec pins for the routed maps
    val ngroups = math.ceil(math.sqrt(600.0)).toInt
    assert(Similarity.assignToCellsTwoLevel(pts, 16, cells, ngroups)
      .sameElements(flat),
      "exhaustive two-level bridge must equal the flat argmax")
    // the production probe depth: on cluster-structured points the best
    // cell's group is essentially always probed (IMI misses need a point
    // whose top group hides its best cell — a boundary event)
    val p8 = Similarity.assignToCellsTwoLevel(pts, 16, cells, 8)
    val agree = p8.zip(flat).count { case (a, b) => a == b }
    assert(agree >= 190,
      s"two-level bridge at probe=8 agreed on only $agree/200 points")
  }
}
