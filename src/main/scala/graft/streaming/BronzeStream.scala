package graft.streaming

import graft.model.JobcanSchemas
import graft.normalize.Normalize

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Streaming ingest: the integrator's phase-3 pipeline as a
  * Structured Streaming job. Raw request-detail documents land in a
  * bronze directory as JSON LINES (one document per line, from any
  * JSONL collector — note `Ingest.appendRaw` lands PARQUET bronze,
  * which this reader does NOT consume); this job tails the
  * directory, shreds each micro-batch through the SAME
  * `Normalize.requests` used in batch, and MERGEs every silver table
  * inside `foreachBatch` — checkpointed, so restart resumes exactly
  * where it stopped (the streaming form of T4 resume).
  *
  * This is the "continuous integrator": at 100 TB/day the bronze dir
  * is an object-store prefix and maxFilesPerTrigger bounds batch
  * size; nothing else changes.
  */
object BronzeStream {

  private val CorruptCol = "_corrupt_line"

  /** Tail a bronze directory of request-detail JSON documents.
    * Malformed lines are CAPTURED in a corrupt-record column rather
    * than silently becoming all-null rows — the batch path DLQs
    * parse failures (S5), and without the capture a single truncated
    * line would merge a null-keyed row into every silver table.
    */
  def readBronze(spark: SparkSession, bronzeDir: String,
      maxFilesPerTrigger: Int = 100): DataFrame =
    spark.readStream
      .schema(JobcanSchemas.requestDetailSchema
        .add(CorruptCol, org.apache.spark.sql.types.StringType))
      .option("columnNameOfCorruptRecord", CorruptCol)
      .option("mode", "PERMISSIVE")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(bronzeDir)

  /** Merge one micro-batch of parsed documents into the silver dir —
    * the same idempotent merges the batch Integrator uses. Corrupt
    * lines (captured by [[readBronze]]) are appended byte-preserving
    * to `$silverDir/_quarantine` instead of entering any table — the
    * streaming form of the batch DLQ.
    */
  def mergeBatch(batch: DataFrame, silverDir: String): Unit = {
    val spark = batch.sparkSession
    // truncate lineage: the 30 table merges below must not re-read the
    // stream source (same trap as Integrator.updateFormDetails); the
    // checkpoint also makes the corrupt-column filters below legal
    // (Spark disallows them straight off a JSON scan)
    val docs = batch.localCheckpoint(true)
    try {
      if (docs.isEmpty) return
      val (clean, bad) =
        if (docs.columns.contains(CorruptCol))
          (docs.filter(col(CorruptCol).isNull).drop(CorruptCol),
            docs.filter(col(CorruptCol).isNotNull)
              .select(col(CorruptCol).as("raw_line")))
        else (docs, null)
      if (bad != null && !bad.isEmpty)
        bad.write.mode("append").parquet(s"$silverDir/_quarantine")
      if (!clean.isEmpty)
        // the SAME canonical merge semantics as the batch Integrator
        // (NormalizeTables.mergeStrategy via ParquetMerge, independent
        // tables merged concurrently) — the two sinks cannot drift
        graft.operators.ParquetMerge.mergeTables(spark, silverDir,
          Normalize.requests(clean))
    } finally docs.unpersist()
  }

  /** The continuous integrator: bronze dir → silver dir, exactly-once
    * at the table level via checkpoint + idempotent merges.
    */
  def run(spark: SparkSession, bronzeDir: String, silverDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    readBronze(spark, bronzeDir).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        mergeBatch(batch.toDF(), silverDir)
      }
}
