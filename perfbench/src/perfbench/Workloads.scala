package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.functions.{HashFunctions, ShingleFunctions, TextFunctions, VectorFunctions, WinnowFunctions}
import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import graft.sources.{IncrementalSource, Sinks}
import graft.streaming.Streams

import Trace.span

/** Shared word-3-gram shingling and MinHash-LSH configuration of the dedup
  * door and the curation chain. */
object Text {
  def shingleHashes = ShingleFunctions.wordShingleHashes(
    TextFunctions.tokens(col("text")), 3)
  def shingles = TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 3)
  val lsh = Dedup.LshConfig(numHashes = 64, bandRows = 2)
  val threshold = 0.5
}

/** etl_daily: `days` consecutive simulated days of the evidence-images ETL
  * (of the 15 the generator lands). Each day runs four operations: the
  * images fan-out + clean + idempotent append, the sessions fan-out +
  * merge-upsert, the image_urls report rewrite, and that day's documents
  * through the indexed dedup door. */
final class EtlDaily(data: String, state: String, days: Int) extends Workload {
  val countries = Seq("KE", "UG", "TZ", "RW", "ET", "NG", "GH", "ZA", "ZM", "MW")
  val images = s"$state/images"
  val sessions = s"$state/sessions"
  val report = s"$state/report"
  val corpus = s"$state/corpus"
  val index = "perfbench_door"
  val imageCols = Seq("image_id", "session_id", "image_names", "url_base",
    "captured_at", "is_valid", "country_code")
  val sessionCols = Seq("session_id", "customer_id", "status", "started_at",
    "is_flagged", "country_code")
  private var batchRows, appended, doorIn, compactions = 0L

  private def day(d: Int) = f"day=$d%02d"

  private def landed(spark: SparkSession, kind: String, d: Int): DataFrame =
    span("sources.fan_out") {
      IncrementalSource.fanOutUnion(spark,
        countries.map(cc => cc -> s"$data/$kind/$cc/${day(d)}"),
        p => spark.read.parquet(p))
    }

  private def cleanImages(batch: DataFrame): DataFrame =
    span("pipeline.clean") {
      Pipeline.filterNonEmpty(Pipeline.normalizeBoolStrings(
        Pipeline.keepColumns(batch, imageCols)), "image_names")
    }

  private def reportRows(spark: SparkSession): DataFrame =
    span("pipeline.report") {
      val img = spark.read.parquet(images)
      val ses = spark.read.parquet(sessions)
        .filter(col("status") === "completed").select("session_id", "customer_id")
      val urls = Pipeline.qualifyUrls(Pipeline.splitPacked(col("image_names")),
        col("url_base"))
      img.join(ses, "session_id")
        .select(col("image_id"), col("session_id"), col("customer_id"),
          col("country_code"), date_trunc("day", col("captured_at")).as("day"),
          urls.as("image_urls"))
        .withColumn("first_url", element_at(col("image_urls"), 1))
    }

  /** Empty sessions and report tables (the upsert and rewrite targets) and
    * an empty persisted MinHash index beside an absent door corpus. */
  private def bootstrap(spark: SparkSession): Unit = {
    Main.rmTree(new java.io.File(state))
    val s0 = Pipeline.normalizeBoolStrings(Pipeline.keepColumns(
      landed(spark, "sessions", 0).limit(0), sessionCols))
    s0.select(sessionCols.map(col): _*).write.parquet(sessions)
    val i0 = cleanImages(landed(spark, "images", 0)).limit(0)
    i0.write.parquet(images)
    reportRows(spark).limit(0).write.parquet(report)
    val docs0 = spark.read.parquet(s"$data/docs/${day(0)}").limit(0)
    Dedup.writeMinHashIndex(docs0, "doc_id", Text.shingleHashes, Text.lsh,
      index, numBuckets = 8)
  }

  private def runDay(spark: SparkSession, d: Int, traced: Boolean): Unit = {
    if (traced) batchRows += Ops.untimed(
      cleanImages(landed(spark, "images", d)).count())
    Ops("etl.images_append") {
      val batch = cleanImages(landed(spark, "images", d))
      appended += span("sinks.append") {
        Sinks.idempotentAppend(spark, batch, images, Seq("image_id"))
      }
    }
    Ops("etl.sessions_upsert") {
      val batch = Pipeline.normalizeBoolStrings(Pipeline.keepColumns(
        landed(spark, "sessions", d), sessionCols))
      span("sinks.overwrite") {
        Sinks.overwriteWithDerived(spark, sessions, target =>
          span("pipeline.upsert") {
            Pipeline.mergeUpsert(target, batch, Seq("session_id"),
              sessionCols.tail)
          })
      }
    }
    Ops("etl.report") {
      span("sinks.overwrite") {
        Sinks.overwriteWithDerived(spark, report, _ => reportRows(spark))
      }
    }
    if (traced) doorIn += Ops.untimed(
      spark.read.parquet(s"$data/docs/${day(d)}").count())
    Ops("etl.door_batch") {
      val docs = span("sources.read") {
        spark.read.parquet(s"$data/docs/${day(d)}")
      }
      span("streaming.door") {
        Streams.dedupIngestBatchIndexed(docs, corpus, "doc_id",
          Text.shingleHashes, Text.threshold, Text.lsh, index)
      }
      // the door's own auto-compaction step (autoCompactMaxFiles = 12),
      // called here so its time is its own span
      span("sinks.compact") {
        if (Dedup.maybeCompactMinHashIndex(spark, index, 12)) compactions += 1
      }
    }
  }

  /** Day 0 once, into state the index bootstrap then replaces. */
  def warmup(spark: SparkSession): Unit = {
    bootstrap(spark)
    runDay(spark, 0, traced = false)
  }

  override def buildIndex(spark: SparkSession): Unit = bootstrap(spark)

  def pass(spark: SparkSession, first: Boolean): Unit = {
    if (!first) Ops.untimed(bootstrap(spark))
    batchRows = 0; appended = 0; doorIn = 0; compactions = 0
    (0 until days).foreach(runDay(spark, _, Trace.enabled))
  }

  override def emitOutputs(spark: SparkSession, out: String): Unit =
    spark.table(s"${index}_docs").select(col("id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/index_docs")

  private def dirBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(p))
  }

  override def layerMetrics(spark: SparkSession,
                            rec: JobRecorder): Map[String, Double] = {
    val kept = spark.read.parquet(corpus).count()
    val finalBytes = Seq(images, sessions, report, corpus).map(dirBytes).sum
    Map(
      "sinks.rows_appended" -> appended.toDouble,
      "sinks.rows_skipped" -> (batchRows - appended).toDouble,
      "sinks.compactions" -> compactions.toDouble,
      "index.data_files" ->
        Sinks.tableDataFileCount(spark, s"${index}_bands").toDouble,
      "streaming.rows_kept_frac" -> kept.toDouble / math.max(doorIn, 1L),
      "sinks.write_amp" -> rec.outputBytes.toDouble / math.max(finalBytes, 1L))
  }
}

/** llm_curation: one pass of the curation chain over the replicated
  * documents and embeddings. Each stage materializes its result. */
final class LlmCuration(data: String) extends Workload {
  private var minhashPairs, ppjoinPairs, ivfpq, lsh: DataFrame = _
  private var gated, queries, emb: DataFrame = _
  val k = 10

  private def docs(spark: SparkSession) =
    spark.read.parquet(s"$data/documents.parquet")
  private def vectors(spark: SparkSession) =
    spark.read.parquet(s"$data/embeddings.parquet")

  private def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Unpersists the previous pass's frames (none after a set-up: a
    * stopped session took its cached frames with it). */
  private def drop(): Unit = {
    Seq(minhashPairs, ppjoinPairs, ivfpq, lsh, gated)
      .filter(_ != null).foreach(_.unpersist(blocking = true))
    minhashPairs = null; ppjoinPairs = null; ivfpq = null; lsh = null
    gated = null
  }

  /** The whole chain once on a small slice of the inputs. */
  def warmup(spark: SparkSession): Unit = {
    minhashPairs = null; ppjoinPairs = null; ivfpq = null; lsh = null
    gated = null
    chain(docs(spark).filter(col("doc_id") < 200),
      vectors(spark).filter(col("vec_id") < 200))
  }

  def pass(spark: SparkSession, first: Boolean): Unit =
    chain(docs(spark), vectors(spark))

  private def chain(documents: DataFrame, vecs: DataFrame): Unit = {
    Ops.untimed(drop())
    emb = vecs
    Ops("curation.gate") {
      gated = span("text.quality") {
        pin(TextAnalysis.languageId(
          TextAnalysis.qualityMetrics(documents, "text"), "text")
          .filter(col("n_tokens") >= 12 && col("predicted_lang") === "en")
          .select("doc_id", "text"))
      }
    }
    Ops("curation.minhash") {
      minhashPairs = span("dedup.minhash") {
        pin(Dedup.minHashNearDups(gated, "doc_id", Text.shingleHashes,
          Text.threshold, Text.lsh))
      }
    }
    Ops("curation.canonical") {
      span("dedup.canonical") {
        Dedup.canonicalAssignments(minhashPairs).count()
      }
    }
    Ops("curation.ppjoin") {
      ppjoinPairs = span("dedup.ppjoin") {
        pin(Dedup.prefixJaccardPairs(gated, "doc_id", Text.shingles, 1, 2))
      }
    }
    Ops("curation.containment") {
      span("dedup.containment") {
        Dedup.containmentPairs(gated, "doc_id", Text.shingles, 0.7, 200L).count()
      }
    }
    Ops("curation.suffix") {
      span("dedup.suffix") {
        Dedup.suffixDuplicateSpans(gated, "doc_id", "text", minLen = 30).count()
      }
    }
    Ops("curation.semantic") {
      span("dedup.semantic") {
        Dedup.semanticNearDups(emb, "vec_id", "embedding", 0.4).count()
      }
    }
    queries = emb.filter(col("vec_id") % 100 === 0)
    Ops("curation.ivfpq_topk") {
      ivfpq = span("sim.ivfpq_topk") {
        val shortlist = Similarity.ivfPqTopK(emb, queries, "vec_id",
          "embedding", k = 64, nlist = 16, nprobe = 8, m = 8, ksub = 16)
        pin(Similarity.exactRerank(shortlist, emb, queries, "vec_id",
          "embedding", k))
      }
    }
    Ops("curation.lsh_topk") {
      lsh = span("sim.lsh_topk") {
        pin(Similarity.lshTopK(emb, queries, "vec_id", "embedding", k,
          bandBits = 4, numBands = 16))
      }
    }
  }

  private def recall(ann: DataFrame, exact: DataFrame): Double = {
    val hit = ann.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .count()
    hit.toDouble / math.max(exact.count(), 1L)
  }

  override def quality(spark: SparkSession): Map[String, Double] = {
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", k).persist()
    val ev = Dedup.dedupEval(minhashPairs, ppjoinPairs).collect().head
    val nExact = ev.getAs[Long]("n_exact")
    val ivf = recall(ivfpq, exact)
    val l = recall(lsh, exact)
    Map("ivfpq_recall" -> ivf, "lsh_recall" -> l,
      "ann_recall" -> (ivf + l) / 2,
      "dedup_pair_recall" ->
        (if (nExact == 0) 1.0 else ev.getAs[Long]("tp").toDouble / nExact),
      "exact_pairs" -> nExact.toDouble)
  }

  override def layerMetrics(spark: SparkSession,
                            rec: JobRecorder): Map[String, Double] =
    Map("dedup.pairs_out" -> minhashPairs.count().toDouble)

  /** Each `functions` kernel alone over the gated corpus, beside a scan
    * that reads the same column and computes nothing. */
  override def traceExtras(spark: SparkSession): Map[String, Double] = {
    def time(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val text = docs(spark).select(col("text"))
    val sh = pin(text.select(Text.shingleHashes.as("sh")))
    val probe = broadcast(queries.select(col("embedding").as("q")))
    val cos = emb.crossJoin(probe)
      .select(VectorFunctions.cosine(col("embedding"), col("q")))
    val r = Map(
      "functions.scan_only_s" -> time(text.select(length(col("text")))),
      "functions.shingle_s" -> time(text.select(Text.shingleHashes)),
      "functions.minhash_s" ->
        time(sh.select(HashFunctions.minhashSignature(col("sh"), 64))),
      "functions.simhash_s" ->
        time(text.select(HashFunctions.simhash64(TextFunctions.tokens(col("text"))))),
      "functions.winnow_s" ->
        time(text.select(WinnowFunctions.winnowedMd5Fingerprints(col("text")))),
      "functions.cosine_s" -> time(cos))
    sh.unpersist()
    r
  }
}

/** query_mix: the selected SparkEntry queries, once each per pass, in the
  * seeded order given by run.py. An operation builds the query
  * (`fn(spark, dir)`, which may run jobs eagerly) and collects its result. */
final class QueryMix(data: String, warmData: String, listFile: String,
                     out: String) extends Workload {
  val names: Seq[String] = scala.io.Source.fromFile(listFile)
    .getLines().map(_.trim).filter(_.nonEmpty).toSeq
  val oracle: Map[String, String] = SparkEntry.oracleSql

  private def run(spark: SparkSession, q: String,
                  dir: String): (DataFrame, Array[Row]) = {
    val df = span("query.build") { SparkEntry.queries(q)(spark, dir) }
    (df, span("query.exec") { df.collect() })
  }

  /** The first queries of the list in name order, on a small copy of the
    * inputs: the same fixed warm-up for every seed. */
  def warmup(spark: SparkSession): Unit =
    names.sorted.take(8).foreach(q => try run(spark, q, warmData) catch {
      case scala.util.control.NonFatal(_) => ()
    })

  override def buildIndex(spark: SparkSession): Unit =
    graft.sources.Multimodal.ensureFixtureFiles(spark,
      graft.Tables.documents(spark, data),
      graft.sources.Multimodal.fixtureDir(data))

  def pass(spark: SparkSession, first: Boolean): Unit =
    names.foreach { q =>
      val result = Ops("query") { run(spark, q, data) }
      // the first pass keeps each oracle-checked result for run.py
      if (first && oracle.contains(q)) result.foreach { case (df, rows) =>
        Ops.untimed(spark.createDataFrame(rows.toSeq.asJava, df.schema)
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/qm/$q"))
      }
    }

  override def emitOutputs(spark: SparkSession, out: String): Unit = {
    val m = names.filter(oracle.contains).map(q => q -> oracle(q)).toMap
    val json = m.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\": \"" + v.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n").replace("\t", "\\t") + "\""
    }.mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }
}
