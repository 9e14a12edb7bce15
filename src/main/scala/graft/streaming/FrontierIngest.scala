package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Urls

/** Continuous crawl-frontier ingestion — the streaming integration of
  * the persisted canonical-URL hash index
  * ([[graft.operators.Urls.probeFrontier]] family), and the URL twin
  * of [[CorpusIngest]]: each arriving batch of discovered URLs probes
  * the frontier built SO FAR; the fetchable survivors (parseable,
  * never seen, first in-batch canonical occurrence) land in the fetch
  * log and their canonical hashes join the index so the next batch
  * dedups against them too. This is the production shape of a rolling
  * crawl: link extraction and sitemap seeding discover URLs
  * continuously, and the frontier's memory lives in the hash index
  * (one 8-byte column), never in streaming state-store memory.
  *
  * Semantics: a URL is fetched iff its canonical form
  * ([[graft.operators.Urls.canonicalize]]) has never been fetched
  * before — across all prior batches AND earlier rows of its own
  * batch (keep-first by id; URL identity is exact, so intra-batch
  * dedup is safe, unlike the near-dup ingest's cross-batch-only
  * contract). Non-URLs (no scheme) are never fetched and never enter
  * the index.
  *
  * Delivery: the keyed path ([[ingestBatch]] with `batchId`, which
  * [[ingestStream]] always uses) commits each batch atomically via
  * the shared [[BatchCommit]] machinery — fetch-log rows and index
  * hashes move in under `batch<id>-` names, sealed by the
  * `_committed-batch-<id>` marker; replays are no-ops and mid-commit
  * crashes sweep their residue before recomputing, so the fetch log
  * is exactly-once end to end. The unkeyed path keeps plain appends
  * (at-least-once under caller retry). Single-writer by contract,
  * like every index in this library; the batch-API manifest
  * (`_graft_manifest`) is not maintained on this path — probes are
  * lenient to its absence by design.
  *
  * Scale: per batch, ONE plan builds the fetch set — the first
  * (id, url, canonical_url) per canonical hash, left-anti joined
  * against the index hashes, which are read through `Tables.read` (no
  * footer-inference job) and never de-duplicated as a whole. No
  * re-join with the batch; the fetched count rides the checkpoint as
  * an observe() metric; then two batch-sized writes, the index one
  * hash per fetched row. The index grows one 8-byte hash per fetched
  * page — ~80 GB of index for 10¹⁰ pages, a broadcast-guarded or
  * shuffled join either way, never a recompute of crawl history.
  */
object FrontierIngest {

  import org.apache.hadoop.fs.Path
  import BatchCommit.{cleanBatchFiles, moveIn}

  /** Ingest ONE batch of discovered URLs: probe, append the fetchable
    * rows (idCol, urlCol, canonical_url) to the fetch log and their
    * hashes to the index. Runs identically as a `foreachBatch`
    * handler or called directly on static frames (the batch twin the
    * oracle checks). Returns the number of fetchable rows.
    */
  def ingestBatch(batch: DataFrame, indexPath: String, logPath: String,
      idCol: String, urlCol: String,
      batchId: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    // index and log may live on DIFFERENT filesystems/schemes: derive
    // each side's handle from its own path (marker/clean/move on the
    // log side must never run against the index's filesystem)
    val fsIdx = new Path(indexPath).getFileSystem(hconf)
    val fsLog = new Path(logPath).getFileSystem(hconf)

    /** The fetch set, materialized once for both writes (log +
      * index), with its row count riding the checkpoint as an
      * observe() metric.
      */
    def probeAndMaterialize(): (DataFrame, Long) = {
      val obs = Observation()
      val surv = Urls.frontierFetchSet(spark, indexPath, batch, idCol, urlCol)
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(true)
      (surv, obs.get("n").asInstanceOf[Long])
    }

    def logRows(surv: DataFrame): DataFrame =
      surv.select(col(idCol), col(urlCol), col("canonical_url"))

    // one hash per fetched row: the fetch set is first-per-hash
    def hashes(surv: DataFrame): DataFrame = surv.select(col("_h").as("h"))

    batchId match {
      case None =>
        val (surv, n) = probeAndMaterialize()
        logRows(surv).write.mode("append").parquet(logPath)
        hashes(surv).write.mode("append").parquet(s"$indexPath/urls")
        // both sinks consumed the materialization — a long-running
        // stream must not accumulate one frame per batch
        graft.plans.Checkpoints.drop(surv)
        n

      case Some(id) =>
        val log = new Path(logPath)
        val urlsDir = new Path(s"$indexPath/urls")
        val marker = BatchCommit.markerPath(logPath, id)
        if (fsLog.exists(marker)) {
          // replay of a committed batch: exactly-once no-op
          BatchCommit.readMarker(fsLog, marker)
        } else {
          // crashed-attempt residue must go BEFORE the recompute, so
          // the probe sees exactly the pre-batch index state
          cleanBatchFiles(fsLog, log, id)
          cleanBatchFiles(fsIdx, urlsDir, id)
          val (surv, n) = probeAndMaterialize()
          val stagingLog = new Path(s"$logPath.staging-batch-$id")
          val stagingIdx = new Path(s"$indexPath.staging-batch-$id")
          fsLog.delete(stagingLog, true): Unit
          fsIdx.delete(stagingIdx, true): Unit
          logRows(surv).write.mode("overwrite").parquet(stagingLog.toString)
          hashes(surv).write.mode("overwrite").parquet(stagingIdx.toString)
          moveIn(fsLog, stagingLog, log, id)
          moveIn(fsIdx, stagingIdx, urlsDir, id)
          BatchCommit.writeMarker(fsLog, logPath, id, n)
          // committed: the batch's materialized frame is dead
          graft.plans.Checkpoints.drop(surv)
          n
        }
    }
  }

  /** The streaming form: every micro-batch through the KEYED
    * [[ingestBatch]] path — Structured Streaming replays a failed
    * batch under the same `batchId` with the same rows, and the keyed
    * commit makes the replay a no-op, so the fetch log is
    * exactly-once end to end. The default `Trigger.AvailableNow`
    * drains the current backlog exactly like sequential batch calls
    * and then STOPS (the CorpusIngest convention — tests and
    * drain-style jobs); a long-running crawl passes a processing-time
    * trigger (e.g. `Trigger.ProcessingTime("30 seconds")`) to keep
    * ingesting discoveries as they arrive.
    */
  def ingestStream(stream: DataFrame, indexPath: String, logPath: String,
      idCol: String, urlCol: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        ingestBatch(b.toDF(), indexPath, logPath, idCol, urlCol,
          batchId = Some(id)): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
