package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Dedup

/** Continuous corpus ingestion with near-dup filtering — the streaming
  * integration of the persisted MinHash index
  * ([[graft.operators.Dedup.writeMinHashIndex]] family): each arriving
  * micro-batch is deduped AGAINST EVERYTHING INGESTED SO FAR, and its
  * survivors join both the corpus and the index so the next batch
  * dedups against them too. This is the production shape of a training
  * corpus that grows daily: no batch ever recomputes a historical
  * signature, state lives in the index (not in streaming state-store
  * memory), and the index is compactable online
  * ([[graft.operators.Dedup.compactMinHashIndex]]).
  *
  * Semantics: a new doc is dropped iff some already-ingested doc is
  * near-identical (exact-verified Jaccard ≥ `minJaccard`). Docs within
  * one batch do NOT filter each other (same contract as the q60
  * incremental path) — run a batch-level dedup upstream if intra-batch
  * duplication matters.
  *
  * Delivery: `foreachBatch` replays a batch (same `batchId`, same
  * rows) after a crash, so the sink must be idempotent per batch id
  * to be exactly-once. The keyed path ([[ingestBatch]] with
  * `batchId = Some(id)`, which [[ingestStream]] always uses) commits
  * each batch atomically: survivors and index signatures are written
  * to staging directories, moved into the live directories under
  * deterministic `batch<id>-` file names, and sealed by a
  * `_committed-batch-<id>` marker (hidden from Spark's file index).
  * A replayed batch whose marker exists is a no-op; a replay after a
  * mid-commit crash first deletes the partial `batch<id>-*` files —
  * so the recompute sees exactly the pre-batch index state — then
  * redoes the batch. The marker create is the single commit point.
  * The unkeyed path (`batchId = None`, direct batch calls) keeps the
  * plain append semantics: at-least-once on caller-managed retry.
  * Both paths publish the index manifest (`_graft_manifest`, the
  * MinHash build parameters) with the bootstrap batch, so a later
  * batch whose `numHashes`/`bands`/`shingleSize` differ throws instead
  * of silently matching nothing. The keyed path's manifest carries no
  * `n_docs` counter (its commit markers are the ledger); the unkeyed
  * path's counter is bumped per batch.
  *
  * Scale: ONE signature pass per batch. The batch's shingle sets,
  * signatures and band keys are computed once, unwidened, and serve
  * the probe, its verification and the survivors' index rows. The
  * probe reads the index through `Tables.read` (no footer-inference
  * job) and aggregates only the index band rows whose key the batch
  * holds. The survivor count rides the survivors' checkpoint as an
  * observe() metric. No round-robin shuffle runs, and a batch adds one
  * index file per input partition (one for a one-file micro-batch)
  * instead of `defaultParallelism` files. The work that still grows
  * with the index is the scan of its band keys and of the candidates'
  * shingle sets — never a recompute of a historical signature.
  */
object CorpusIngest {

  import org.apache.hadoop.fs.Path

  import BatchCommit.{cleanBatchFiles, moveIn}
  import graft.sources.Tables.hasData

  /** Ingest ONE batch: dedup against the index (bootstrap: a missing
    * index means nothing ingested yet — everything survives), append
    * survivors to the corpus parquet and their signatures to the
    * index. Runs identically as a `foreachBatch` handler or called
    * directly on static frames (the batch twin the oracle checks).
    * Returns the number of surviving rows.
    */
  def ingestBatch(
      batch: DataFrame, indexPath: String, corpusPath: String,
      idCol: String, textCol: String, minJaccard: Double = 0.6,
      shingleSize: Int = 7, numHashes: Int = 96, bands: Int = 24,
      maxBucketSize: Int = 10000, batchId: Option[Long] = None): Long = {
    val spark = batch.sparkSession
    val idx = new Path(indexPath)
    val fs = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** One signature pass: sign the batch, dedup it against the index,
      * materialize the survivors once (their count rides the
      * checkpoint as an observe() metric), then hand `commit` the
      * survivors, their signatures (the same frame, semi-joined to the
      * survivors) and the bootstrap flag. Returns the survivor
      * count.
      */
    def ingest(commit: (DataFrame, DataFrame, Boolean) => Unit): Long = {
      val bootstrap = !hasData(fs, idx)
      val sigs = Dedup.sign(batch, idCol, textCol, shingleSize, numHashes,
        bands).persist()
      var surv: DataFrame = null
      try {
        val kept =
          if (bootstrap) batch
          else batch.join(
            Dedup.probeIndex(sigs, indexPath, minJaccard, shingleSize,
              numHashes, bands, maxBucketSize).pairs
              .select(col("new_id").as(idCol)),
            Seq(idCol), "left_anti")
        val obs = Observation()
        // one materialization serves both writes (corpus + index) — the
        // anti-join would otherwise recompute per sink
        surv = kept.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
        val n = obs.get("n").asInstanceOf[Long]
        // null-safe: a null-id survivor gets its index row, as
        // writeMinHashIndex/appendToMinHashIndex would give it
        commit(surv, sigs.join(surv.select(col(idCol).as("_sid")),
          col("_id") <=> col("_sid"), "left_semi"), bootstrap)
        n
      } finally {
        sigs.unpersist()
        // both sinks consumed the materialization — a long-running
        // stream must not accumulate one survivors frame per batch
        if (surv != null) graft.plans.Checkpoints.drop(surv)
      }
    }

    def publishMeta(nDocs: Option[Long]): Unit =
      Dedup.writeMinHashMeta(spark, indexPath, shingleSize, numHashes, bands, nDocs)

    batchId match {
      case None =>
        // unkeyed: plain appends, at-least-once under caller retry
        ingest { (surv, sigs, bootstrap) =>
          surv.write.mode("append").parquet(corpusPath)
          val nDocs = Dedup.writeIndexRows(sigs,
            if (bootstrap) "overwrite" else "append", indexPath)
          if (bootstrap) publishMeta(Some(nDocs))
          else graft.sinks.Pruning.bumpIndexMeta(spark, indexPath,
            Map("n_docs" -> nDocs))
        }

      case Some(id) =>
        val corpus = new Path(corpusPath)
        val marker = new Path(corpusPath, s"_committed-batch-$id")
        if (fs.exists(marker)) {
          // replay of a committed batch: exactly-once no-op
          BatchCommit.readMarker(fs, marker)
        } else {
          // crashed-attempt residue must go BEFORE the recompute, so
          // the anti-join sees exactly the pre-batch index state
          cleanBatchFiles(fs, corpus, id)
          cleanBatchFiles(fs, idx, id)
          val stagingCorpus = new Path(s"$corpusPath.staging-batch-$id")
          val stagingIndex = new Path(s"$indexPath.staging-batch-$id")
          val committed = ingest { (surv, sigs, bootstrap) =>
            Seq(stagingCorpus, stagingIndex).foreach(p => fs.delete(p, true): Unit)
            surv.write.mode("overwrite").parquet(stagingCorpus.toString)
            Dedup.writeIndexRows(sigs, "overwrite", stagingIndex.toString): Unit
            moveIn(fs, stagingCorpus, corpus, id)
            moveIn(fs, stagingIndex, idx, id)
            // the bootstrap publishes the build parameters, so every
            // later batch's probe checks its own against them — but no
            // n_docs counter: keyed batches never bump it (the markers
            // are the ledger), and a frozen count would only mislead
            if (bootstrap) publishMeta(None)
          }
          // single atomic commit point (see BatchCommit.writeMarker)
          BatchCommit.writeMarker(fs, corpusPath, id, committed)
          committed
        }
    }
  }

  /** The streaming form: every micro-batch through the KEYED
    * [[ingestBatch]] path — Structured Streaming replays a failed
    * batch under the same `batchId` with the same rows, and the keyed
    * commit makes the replay a no-op, so the corpus is exactly-once
    * end to end. With `Trigger.AvailableNow` this drains a backlog
    * exactly like the sequential batch calls the spec compares
    * against; left running, it ingests continuously.
    */
  def ingestStream(
      stream: DataFrame, indexPath: String, corpusPath: String,
      idCol: String, textCol: String, checkpointDir: String,
      minJaccard: Double = 0.6): StreamingQuery =
    stream.writeStream
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        ingestBatch(b.toDF(), indexPath, corpusPath, idCol, textCol,
          minJaccard, batchId = Some(id)): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
