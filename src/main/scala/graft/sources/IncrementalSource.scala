package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-source file reads for the reference's blob ingestion (S1,
  * reference dags/common_helpers/blob_ingestion.py:9-20). Its prefix
  * filter is the listing-time `pathGlobFilter` of the streaming and
  * media readers ([[graft.streaming.Streams.eventsStream]],
  * [[Multimodal.readBinaryFiles]]); its lookback window (S3) is the
  * event-time window of the `s3_incremental` query.
  */
object IncrementalSource {

  /** The reference's 20-way country×type fan-out (10 containers × {IRMQ,
    * IRSession}, dags/evidence_images_processing.py:318-355) as one logical
    * plan: every per-source read is unioned by name with a lineage tag, so
    * Spark schedules all scans in parallel — no orchestration layer.
    */
  def fanOutUnion(
      spark: SparkSession,
      sources: Seq[(String, String)], // (countryCode, path)
      read: String => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(sources.nonEmpty, "fan-out needs at least one source")
    sources.map { case (cc, p) =>
      read(p).withColumn("country_code", lit(cc))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
