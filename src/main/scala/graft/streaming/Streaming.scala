package graft.streaming

import graft.Checkpoint.CheckpointOps
import graft.operators.{AnnSearch, IvfPq, IvfSearch}
import graft.sources.{Layout, LayoutManifest, Parquet, VectorStore}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — beyond-reference capability (the reference
  * has no streaming at all: every ingest is a synchronous method call under
  * one lock, SURVEY §1.1/§2.2; at pipeline scale ingestion is a stream).
  *
  * Design rule: every transformation here is a plain `DataFrame =>
  * DataFrame` usable under BOTH `spark.read` and `spark.readStream` —
  * Spark's unified-plan property. The batch twin of each streaming operator
  * is wired as an oracled correctness query; the streaming behavior
  * (watermarks, incremental state, exactly-once file commits) is pinned by
  * StreamingSpec over MemoryStream sources.
  *
  * Sink contract: every `foreachBatch` sink runs through one micro-batch
  * runner ([[eachBatch]]), and every batch-stamped one persists through one
  * write ([[overwriteBatch]]): the batch's rows carry a `batch_id` column
  * that is the LAST partition column (after `bucket` or `list_id` where the
  * index leads with one), written as a dynamic partition overwrite — a
  * retried batch replaces exactly its own partitions. Delivery into
  * `foreachBatch` is at-least-once; this write makes it exactly-once in the
  * stored bytes (the idempotent-sink rule of Structured Streaming, Armbrust
  * et al., SIGMOD'18), which matters most for the SUM-merged sinks
  * (count-min, volume, dataset card), where a duplicated batch would
  * double-count, and for the [[startUpsert]] log, which would keep a
  * replayed batch's rows twice. The manifest-committed clustered sinks
  * deviate on purpose: they get exactly-once from the manifest's batch
  * high-water mark ([[graft.sources.Layout.appendCommitted]]).
  */
object Streaming {

  /** The micro-batch runner behind every `foreachBatch` sink; `queryName`
    * is None only for the unnamed upsert log.
    */
  private def eachBatch(src: DataFrame, queryName: Option[String], checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = src.writeStream.option("checkpointLocation", checkpoint)
    queryName.fold(w)(w.queryName).foreachBatch(f).start()
  }

  /** The idempotent batch write of the sink contract above. Vector
    * elements skip Parquet's dictionary ([[Parquet.writeOptions]]); ids get
    * no bloom, since a sink's batches may repeat them.
    */
  private def overwriteBatch(df: DataFrame, batchId: Long, path: String, leading: String*): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.options(Parquet.writeOptions(df, keyed = false)).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(leading :+ "batch_id": _*)
      .parquet(path)

  /** Canonicalize a raw (id, embedding, metadata) stream into the store
    * schema, dropping in-stream duplicate ids (the streaming analog of the
    * reference's duplicate-id rejection, vector_database.py:59-60 — late
    * duplicates beyond the watermark are a storage-level concern).
    */
  def canonicalIngest(src: DataFrame, id: Column, embedding: Column, metadataJson: Column): DataFrame =
    VectorStore.ingest(src, id, embedding, metadataJson).dropDuplicates("id")

  /** Start continuous parquet append of a canonicalized embedding stream —
    * exactly-once via the checkpointed file-sink commit log; shard sizing
    * mirrors the batch persist path (maxRecordsPerFile ≙ shard_size).
    */
  def startIngest(
      canonical: DataFrame,
      path: String,
      checkpoint: String,
      shardSize: Int = 5000): StreamingQuery =
    canonical.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .option("maxRecordsPerFile", shardSize.toLong)
      .outputMode("append")
      .start()

  /** Tumbling-window event statistics: count and exact-decimal value sum per
    * (window, event_type). Batch and streaming share this definition; under
    * `readStream` add [[withEventWatermark]] first so state is bounded and
    * late data beyond the horizon is dropped.
    */
  def windowedEventStats(events: DataFrame, windowLength: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DataTypes.createDecimalType(18, 6)))
          .as("sv"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"),
        col("n_events"),
        round(col("sv").cast("double"), 6).as("sum_value"))

  /** Event-time watermark (streaming only — a no-op under batch plans). */
  def withEventWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Running per-user totals as a custom-state operator
    * (`mapGroupsWithState`): each micro-batch updates an explicit
    * per-user (events, value-sum) state and emits the new totals — the
    * shape for stateful logic the built-in aggregates can't express
    * (counters with custom merge/expiry/emission rules). State lives in the
    * checkpointed state store, partitioned by user — the distributed analog
    * of the reference's in-memory per-id maps (vector_database.py:14-16).
    */
  final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  def runningUserTotals(events: DataFrame): Dataset[UserTotals] = {
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id").cast("long"), col("value").cast("double"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserTotals](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update((n, s))
          UserTotals(user, n, s)
      }
  }

  /** Per-user funnel progress as a custom-state machine — the streaming
    * twin of [[graft.operators.Relational.funnel]]'s strictly-after
    * semantics: the state is (stage reached, that stage's event time), and
    * a stage-k+1 event advances it only when its timestamp is strictly
    * after the stage-k time. Rows are sorted by (ts, type) within each
    * micro-batch before the fold, so in-batch disorder is repaired;
    * CROSS-batch late events cannot retro-advance a stage (the watermarked
    * ingest bounds how stale a batch can be — the documented streaming vs
    * batch-twin divergence window).
    *
    * State per user is two numbers — at 100 TB-scale event volumes the
    * state store grows with USERS, not events.
    */
  final case class FunnelProgress(user_id: Long, stage: Int, stage_us: Long)

  def funnelProgress(events: DataFrame, stages: Seq[String]): Dataset[FunnelProgress] = {
    require(stages.length == 3, "three-stage funnel")
    val sp = events.sparkSession
    import sp.implicits._
    events
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Int, Long), FunnelProgress](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Int, Long)]) =>
          var (stage, sts) = state.getOption.getOrElse((0, Long.MinValue))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, et) =>
            if (stage < 3 && et == stages(stage) && (stage == 0 || us > sts)) {
              stage += 1; sts = us
            }
          }
          state.update((stage, sts))
          FunnelProgress(user, stage, sts)
      }
  }

  /** Start the running-totals stream into a named memory sink (update
    * mode — one refreshed row per user per batch).
    */
  def startRunningTotals(totals: Dataset[UserTotals], queryName: String): StreamingQuery =
    totals.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()

  /** Continuous UPSERT into a plain-parquet store ("delta-lite"
    * merge-on-read): every micro-batch adds rows stamped with the batch
    * sequence `_seq` and an optional tombstone flag, as its own `batch_id`
    * partition under the sink contract — writes stay cheap, never touch an
    * earlier batch, and a replayed batch replaces its own rows.
    * Readers resolve latest-wins per id ([[loadVersioned]]);
    * [[compact]] folds the log back to one version when deltas accumulate.
    * This is the storage-level upsert/delete the reference performs by
    * rewriting whole pickle shards per call
    * (sharded_vector_database.py:134-154), re-expressed append-only so no
    * writer ever rewrites live data.
    */
  def startUpsert(
      changes: DataFrame, // (id, embedding, metadata, deleted BOOLEAN)
      path: String,
      checkpoint: String): StreamingQuery =
    eachBatch(changes, None, checkpoint) { (batch, batchId) =>
      overwriteBatch(batch.withColumn("_seq", lit(batchId)), batchId, path)
    }

  /** Latest-wins resolution of the upsert log or of its [[compact]]ed
    * form: max `_seq` per id wins, tombstones drop the id, and the log's
    * `batch_id` partition column goes. One shuffle on id (the same
    * partitioning a compaction job reuses).
    */
  def loadVersioned(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("_seq").desc)
    Parquet.read(spark, path)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("deleted"))
      .drop("_rn", "_seq", "deleted", "batch_id")
  }

  /** Fold the upsert log into a single resolved version (run when the
    * delta count grows; readers see either the old log or the compacted
    * one — both resolve identically).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String, outPath: String): Unit =
    loadVersioned(spark, path)
      .withColumn("deleted", lit(false))
      .withColumn("_seq", lit(0L))
      .write.mode("overwrite").parquet(outPath)

  /** Streaming dedup with BOUNDED state: duplicates arriving within the
    * watermark horizon are dropped, and state for keys older than the
    * horizon is evicted — the streaming twin of [[graft.operators.Dedup]]'s
    * exact dedup, and the piece `dropDuplicates` alone gets wrong on an
    * unbounded stream (its state grows forever).
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      delay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming near-dup screen at ingest: per micro-batch, screen arriving
    * documents against the PERSISTED corpus signature index
    * ([[graft.operators.Dedup.signatureTable]]) via the batch operator
    * ([[graft.operators.Dedup.incrementalNearDups]]) inside `foreachBatch`
    * — the standard shape for per-batch logic that aggregates batch-locally
    * (a blind streaming groupBy would carry unbounded state; here each
    * batch is complete by construction and the stream itself carries NO
    * state). The static side is the 8·numHashes-bytes-per-doc index, never
    * corpus text. Emits one row per arriving doc,
    * `(id, n_dup_candidates, max_est_jaccard, batch_id)` under the sink
    * contract — quarantine or exact verification is a downstream choice; the
    * screen is the inline ingest decision.
    */
  def startNearDupScreen(
      docs: DataFrame,          // streaming (id, text)
      corpusSigs: DataFrame,    // static signature table (id, sig)
      outPath: String,
      checkpoint: String,
      queryName: String = "near_dup_screen"): StreamingQuery = {
    import graft.operators.Dedup
    eachBatch(docs, Some(queryName), checkpoint) { (batch, batchId) =>
      val sigs = Dedup.signatureTable(batch, col("id"), col("text"))
      val hits = Dedup.incrementalNearDups(corpusSigs, sigs)
        .groupBy(col("new_id"))
        .agg(count(lit(1)).as("n_dup_candidates"),
          max(col("est_jaccard")).as("max_est_jaccard"))
      overwriteBatch(batch.select(col("id")).distinct()
        .join(hits, col("id") === col("new_id"), "left")
        .select(col("id"),
          coalesce(col("n_dup_candidates"), lit(0L)).as("n_dup_candidates"),
          coalesce(col("max_est_jaccard"), lit(0.0)).as("max_est_jaccard")),
        batchId, outPath)
    }
  }

  /** Streaming ANN index maintenance: per micro-batch, stamp arriving
    * vectors with their sign-LSH bucket ([[graft.operators.AnnSearch.index]])
    * and append them to a bucket-partitioned parquet index — similarity
    * search joins the incremental-ingest story (the ANN analog of the
    * signature-table near-dup screen above). The bucket is a pure function
    * of the vector, so maintenance is stateless per batch: no global
    * rebuild, no index lock — arriving data lands in exactly the partitions
    * its buckets name, and a probe's `IN` filter keeps pruning to
    * (probes/2^planes) of ALL data ever ingested. Partitioned by
    * (`bucket`, `batch_id`) under the sink contract: `bucket` leads so
    * pruning stays a top-level directory skip.
    */
  def startAnnIndexMaintenance(
      vectors: DataFrame,       // streaming (id, embedding)
      planes: Seq[Seq[Double]],
      outPath: String,
      checkpoint: String,
      queryName: String = "ann_index_maintenance"): StreamingQuery =
    eachBatch(vectors, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(AnnSearch.index(batch, col("embedding"), planes), batchId, outPath, "bucket")
    }

  /** Read the maintained ANN index back as a search-ready indexed table —
    * the exact shape [[graft.operators.AnnSearch.search]] takes; the
    * batch stamp is maintenance metadata, not index content.
    */
  def loadAnnIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Parquet.read(spark, path).drop("batch_id")

  /** Streaming maintenance of a MANIFEST-COMMITTED clustered ANN layout
    * ([[graft.operators.AnnSearch.clusteredWrite]]) — the deployable
    * sibling of [[startAnnIndexMaintenance]]'s hive-partitioned form:
    * arriving vectors are bucketed with the layout's write-time planes and
    * appended via [[graft.sources.Layout.appendCommitted]], so probe reads
    * ([[graft.operators.AnnSearch.searchClusteredAt]]) keep pruning at the
    * file level over ALL data ever ingested, and GDPR deletes/compaction/
    * rebuild keep their crash-safe commit semantics on the same path.
    *
    * Exactly-once: the manifest records the high-water `batch_id` and a
    * replayed micro-batch is skipped — at-least-once foreachBatch becomes
    * exactly-once in the committed bytes without dynamic-partition
    * machinery. Plane identity is validated against the manifest
    * fingerprint up front: maintaining an index with the WRONG planes
    * would corrupt every future probe. Appended files are bucket-sorted
    * but overlap older files' spans, so layout health decays with churn —
    * schedule [[graft.sources.Layout.maintainCompaction]] (the gate
    * measures decay from the manifest alone) and
    * [[graft.operators.AnnSearch.rebuildClusteredAuto]] (when growth
    * outruns the plane dial) as the companion maintenance jobs.
    */
  def startClusteredAnnIndexMaintenance(
      vectors: DataFrame,       // streaming (id, embedding)
      planes: Seq[Seq[Double]],
      outPath: String,
      checkpoint: String,
      queryName: String = "ann_clustered_maintenance"): StreamingQuery =
    appendClustered(vectors, outPath, checkpoint, queryName, AnnSearch.identity(planes))(
      AnnSearch.index(_, col("embedding"), planes))

  /** The body both manifest-committed sinks share: check the stream's
    * index identity against the layout's manifest, then append the
    * `assign`ed batch, sorted on the index key, under its id —
    * [[graft.sources.Layout.appendCommitted]] skips a batch at or below the
    * manifest's high-water mark.
    */
  private def appendClustered(src: DataFrame, outPath: String, checkpoint: String,
      queryName: String, index: Layout.ClusteredIndex)(
      assign: DataFrame => DataFrame): StreamingQuery =
    eachBatch(src, Some(queryName), checkpoint) { (batch, batchId) =>
      Layout.appendCommitted(assign(batch).sortWithinPartitions(index.key), outPath,
        batchId = Some(batchId), index = Some(index))
    }

  /** Streaming IVF index maintenance — the centroid-partitioned twin of
    * [[startAnnIndexMaintenance]]: arriving vectors are assigned to their
    * nearest centroid (the [[graft.functions.NearestCentroidExpr]] codegen
    * argmin; the centroid matrix rides the task binary) and appended to a
    * `list_id`-partitioned parquet index. Like the LSH bucket, the
    * assignment is a pure per-row function of FROZEN centroids, so
    * maintenance is stateless per batch and a probe's `IN` filter prunes to
    * nprobe/C of all data ever ingested ([[graft.operators.IvfSearch.search]]
    * runs unchanged on [[loadIvfIndex]]). Centroid drift is a REBUILD
    * decision, not a streaming one — production re-trains centroids
    * offline and cuts over to a new index path, exactly as FAISS re-trains
    * an IVF coarse quantizer; the maintenance stream never mutates shared
    * state. Partitioned by (`list_id`, `batch_id`) under the sink contract.
    */
  def startIvfIndexMaintenance(
      vectors: DataFrame,       // streaming (id, embedding)
      centroids: Seq[graft.operators.IvfSearch.Centroid],
      outPath: String,
      checkpoint: String,
      queryName: String = "ivf_index_maintenance"): StreamingQuery =
    eachBatch(vectors, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(IvfSearch.index(batch, col("embedding"), centroids), batchId, outPath, "list_id")
    }

  /** Read a maintained IVF or IVF-PQ index back as a search-ready indexed
    * table. Partition-directory type inference narrows `list_id` to INT;
    * cast back to the LONG the in-memory index contract
    * ([[graft.operators.IvfSearch.index]]) carries.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Parquet.read(spark, path).drop("batch_id")
      .withColumn("list_id", col("list_id").cast("long"))

  /** IVF twin of [[startClusteredAnnIndexMaintenance]]: arriving vectors
    * are assigned to their nearest FROZEN centroid and appended to the
    * manifest-committed list-clustered layout
    * ([[graft.operators.IvfSearch.clusteredWrite]]) — exactly-once under
    * micro-batch replay via the manifest's batch high-water mark, centroid
    * identity fingerprint-validated per batch (maintaining an index with
    * retrained-but-not-rebuilt centroids would corrupt every probe).
    * Quantizer drift remains a REBUILD decision
    * ([[graft.operators.IvfSearch.rebuildClustered]] — retrain + one-commit
    * cutover), never a streaming mutation.
    */
  def startClusteredIvfIndexMaintenance(
      vectors: DataFrame,       // streaming (id, embedding)
      centroids: Seq[graft.operators.IvfSearch.Centroid],
      outPath: String,
      checkpoint: String,
      queryName: String = "ivf_clustered_maintenance"): StreamingQuery =
    appendClustered(vectors, outPath, checkpoint, queryName, IvfSearch.identity(centroids))(
      IvfSearch.index(_, col("embedding"), centroids))

  /** Streaming IVF-PQ index maintenance: per batch, coarse-assign AND
    * residual-encode arriving vectors against frozen centroids + codebooks
    * ([[graft.operators.IvfPq.index]]) — the full billion-scale ingest
    * shape: a new vector is searchable from codes alone the moment its
    * batch commits, and the ADC scan never reads floats. Same frozen-
    * quantizer contract and (`list_id`, `batch_id`) layout as
    * [[startIvfIndexMaintenance]], read back by [[loadIvfIndex]]; quantizer
    * re-training is an offline rebuild-and-cutover.
    */
  def startIvfPqIndexMaintenance(
      vectors: DataFrame,       // streaming (id, embedding)
      centroids: Seq[graft.operators.IvfSearch.Centroid],
      cb: graft.operators.Pq.Codebooks,
      outPath: String,
      checkpoint: String,
      queryName: String = "ivfpq_index_maintenance"): StreamingQuery =
    eachBatch(vectors, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(IvfPq.index(batch, col("embedding"), centroids, cb), batchId, outPath, "list_id")
    }

  /** Streaming cardinality maintenance: per micro-batch, reduce arriving
    * keys to their HLL register contribution
    * ([[graft.operators.Sketches.hllRegisters]]) and persist the
    * batch-stamped register rows; the live estimate is merge-on-read
    * ([[loadHllEstimate]]). HLL registers are the ideal streaming state:
    * the merge is a per-(grp, bucket) MAX — commutative, associative,
    * and idempotent — so per-key state never grows (G·m rows per batch
    * at most, regardless of batch size) and a replayed batch merges to
    * the identical registers; the sink contract makes the stored bytes
    * idempotent too.
    */
  def startHllMaintenance(
      rows: DataFrame,          // streaming; must contain grp/key columns
      grp: Column,
      key: Column,
      p: Int,
      outPath: String,
      checkpoint: String,
      queryName: String = "hll_maintenance",
      wide: Boolean = false): StreamingQuery =
    eachBatch(rows, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.Sketches.hllRegisters(batch, grp, key, p, wide), batchId, outPath)
    }

  /** Merge the maintained per-batch registers (max per grp/bucket) and
    * estimate — the running distinct count over everything ever ingested,
    * computed from KB of state without re-reading any raw data. `wide`
    * must match the maintenance writer's tier (the register streams are
    * hash-incompatible across tiers).
    */
  def loadHllEstimate(spark: org.apache.spark.sql.SparkSession, path: String,
      p: Int, wide: Boolean = false): DataFrame =
    graft.operators.Sketches.hllEstimate(
      Parquet.read(spark, path)
        .groupBy("grp", "bucket").agg(max(col("rho")).as("rho")), p, wide)

  /** Streaming count-min maintenance: per micro-batch, reduce arriving
    * items to their d×w cell counts and persist the batch-stamped rows;
    * running frequencies are SUM-merge-on-read ([[loadCmCounters]]).
    * Contrast with the HLL screen above: register max-merge is idempotent
    * (a replayed batch converges by itself), but counter SUM-merge double
    * counts on replay — here the sink contract's overwrite is what keeps a
    * retried batch from being summed twice.
    */
  def startCmMaintenance(
      rows: DataFrame,          // streaming; must contain the item column
      item: Column,
      depth: Int,
      width: Int,
      outPath: String,
      checkpoint: String,
      queryName: String = "cm_maintenance"): StreamingQuery =
    eachBatch(rows, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.Sketches.cmCounters(batch, item, depth, width), batchId, outPath)
    }

  /** Sum the maintained per-batch cell counts into the live d×w counter
    * matrix — probe-able for any item's frequency estimate without
    * re-reading any raw data (bounded d·w rows regardless of history).
    */
  def loadCmCounters(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)
      .groupBy("i", "cell").agg(sum(col("cnt")).as("cnt"))

  /** Streaming volume monitor: per micro-batch, reduce arriving events to
    * per-(group, time-bucket) counts
    * ([[graft.operators.Relational.bucketCounts]]) and persist the
    * batch-stamped rows. Like the count-min counters, the merge is a SUM,
    * so the sink contract is what keeps a replay from double-counting. A
    * batch whose events span a bucket boundary contributes partial counts;
    * the sum-merge reassembles the true bucket totals, so micro-batch
    * cadence never has to align with the bucket grid. State per batch is ≤ groups·buckets
    * rows, regardless of batch size.
    */
  def startVolumeMonitor(
      events: DataFrame,        // streaming; must contain grp/ts columns
      grp: Column,
      ts: Column,
      bucketMinutes: Int,
      outPath: String,
      checkpoint: String,
      queryName: String = "volume_monitor"): StreamingQuery =
    eachBatch(events, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.Relational.bucketCounts(batch, grp, ts, bucketMinutes),
        batchId, outPath)
    }

  /** Streaming entity-resolution screen: per micro-batch, match arriving
    * dirty records against a FROZEN canonical dimension at edit distance ≤
    * `maxDist` ([[graft.operators.FuzzyJoin.edJoin]] — symmetric-deletion
    * blocking, exact levenshtein verify) and persist the match pairs under
    * the sink contract. The streaming face of the q_er_names linkage:
    * arriving CRM/vendor records resolve against the master dimension as
    * they land. Dimension drift is an offline rebuild-and-cutover, as with
    * every frozen-static-side stream here.
    */
  def startErScreen(
      records: DataFrame,       // streaming; must contain id/name columns
      id: Column,
      name: Column,
      dimension: DataFrame,     // static canonical (dimId, dimName)
      dimId: Column,
      dimName: Column,
      maxDist: Int,
      outPath: String,
      checkpoint: String,
      queryName: String = "er_screen"): StreamingQuery = {
    // the frozen dimension's deletion-variant table is built ONCE here and
    // PERSISTED (not checkpointed) — inside foreachBatch it would
    // re-explode |dim|·(L+1) variant rows on every micro-batch, but a
    // lineage-truncating localCheckpoint would pin blocks to executors:
    // on a long-running stream, losing one executor (spot node, dynamic
    // allocation) would fail every later micro-batch with missing-block
    // errors. persist keeps the lineage, so a lost block silently
    // recomputes from the static dimension instead.
    val dimVariants = graft.operators.FuzzyJoin
      .variantTable(dimension, dimId, dimName, maxDist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    eachBatch(records, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.FuzzyJoin.edJoinProbe(batch, id, name, dimVariants, maxDist)
          .select(col("l_id").as("record_id"), col("r_id").as("matched_id"), col("dist")),
        batchId, outPath)
    }
  }

  /** Streaming dataset-card maintenance — the running release-README
    * facts over everything ever ingested, kept as MERGEABLE per-batch
    * state (the [[graft.operators.Sketches]] discipline): exact counts
    * and the DECIMAL quality sum merge by addition, per-(batch, source,
    * lang) grain keeps source/language rollups exact, and distinct-text
    * cardinality (the exact-dup rate's denominator) is the one
    * non-mergeable exact quantity — it rides as wide-HLL registers of
    * the text md5, max-merged at read. Both state tables (`agg/`, `hll/`)
    * follow the sink contract.
    *
    * Scale shape: per batch ONE map-side-combined aggregation into
    * (source × lang) rows plus a KB-scale register table; nothing
    * rescans history — [[loadDatasetCard]] folds the state tables only.
    */
  def startDatasetCardMaintenance(
      docs: DataFrame,          // streaming; id/text/source columns
      text: Column,
      source: Column,
      outPath: String,
      checkpoint: String,
      p: Int = 12,
      queryName: String = "dataset_card"): StreamingQuery = {
    import graft.operators.{Sketches, TextAnalysis}
    eachBatch(docs, Some(queryName), checkpoint) { (batch, batchId) =>
      val b = batch.select(text.as("__t"), source.as("source"))
      overwriteBatch(b.groupBy(col("source"), TextAnalysis.langId(col("__t")).as("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.wsTokenCount(col("__t")).cast("long")).as("n_tokens"),
            sum(round(TextAnalysis.qualityScore(col("__t")), 6)
              .cast("decimal(18,6)")).as("sum_q")),
        batchId, s"$outPath/agg")
      overwriteBatch(Sketches.hllRegisters(b, lit("text_md5"), md5(col("__t")), p, wide = true),
        batchId, s"$outPath/hll")
    }
  }

  /** Fold the maintained card state into the running dataset card — the
    * same tall (metric, value) frame as the batch `q_pipeline_dataset_card`
    * with the exact-distinct term replaced by the merged HLL estimate
    * (`distinct_text_est`, and the dup rate derived from it). Reads KB of
    * state, never the corpus.
    */
  def loadDatasetCard(spark: org.apache.spark.sql.SparkSession,
      path: String, p: Int = 12): DataFrame = {
    val agg = Parquet.read(spark, s"$path/agg")
    // before the first micro-batch commits (missing/empty hll/ state) the
    // estimate is 0, keeping the loader DataFrame-shaped like the other
    // load* readers instead of throwing at .head()
    val est = (try {
      graft.operators.Sketches.hllEstimate(
          Parquet.read(spark, s"$path/hll")
            .groupBy("grp", "bucket").agg(max(col("rho")).as("rho")),
          p, wide = true)
        .select(col("est")).collect().headOption.map(_.getDouble(0))
    } catch {
      case _: org.apache.spark.sql.AnalysisException => None
    }).getOrElse(0.0)
    agg.agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("sum_q")).cast("double").as("sq"),
        sum(when(col("lang") === "en", col("n_docs")).otherwise(lit(0L)))
          .as("n_en"))
      .select(expr(
        s"stack(7, " +
          "'n_docs', CAST(n_docs AS DOUBLE), " +
          "'n_tokens', CAST(n_tokens AS DOUBLE), " +
          "'n_sources', CAST(n_sources AS DOUBLE), " +
          s"'distinct_text_est', CAST($est AS DOUBLE), " +
          s"'dup_rate_est', round(1.0 - CAST($est AS DOUBLE) / n_docs, 6), " +
          "'mean_quality', round(sq / n_docs, 6), " +
          "'en_frac', round(CAST(n_en AS DOUBLE) / n_docs, 6)) AS (metric, value)"))
      .orderBy("metric")
  }

  /** Streaming label-noise ingest screen: each arriving LABELED vector is
    * checked against the FROZEN labeled corpus — its `k` nearest corpus
    * neighbors (sign-LSH bucket probe within `probeRadius`, exact cosine
    * on the collisions) vote on the arriving label, the
    * [[graft.operators.Search.labelAgreement]] consensus run
    * batch-vs-corpus instead of corpus-vs-itself. Rows that land with
    * `noisy = 1` go to re-annotation BEFORE they join the training set —
    * the ingest-time twin of the offline screen, composing with the
    * near-dup and drift screens above into the full arrival gate.
    *
    * The corpus index (bucket, norm, label per vector) is built ONCE and
    * PERSISTED — same rationale as the ER screen's variant table: inside
    * foreachBatch it would rebuild per micro-batch; a localCheckpoint
    * would pin blocks to executors and fail later batches on executor
    * loss. Output `(id, label, n_nbrs, n_agree, agree_frac, noisy,
    * batch_id)` under the sink contract. Corpus drift is an offline
    * rebuild-and-cutover, as with every frozen-static-side stream here.
    */
  def startLabelNoiseScreen(
      rows: DataFrame,          // streaming (id, vec, label)
      id: Column,
      vec: Column,
      label: Column,
      corpus: DataFrame,        // static labeled corpus
      corpusId: Column,
      corpusVec: Column,
      corpusLabel: Column,
      planes: Seq[Seq[Double]],
      k: Int,
      tau: Double,
      outPath: String,
      checkpoint: String,
      probeRadius: Int = 1,
      queryName: String = "label_noise_screen"): StreamingQuery = {
    import graft.functions.{VectorFunctions => VF}
    require(k >= 1 && tau >= 0.0 && tau <= 1.0)
    val masks = AnnSearch.xorMasks(planes.length, probeRadius)
    val idx = AnnSearch.index(
        corpus.select(corpusId.as("dst"), corpusVec.as("cv"),
          corpusLabel.as("dst_lbl")), col("cv"), planes)
      .withColumn("cnrm", sqrt(VF.normSq(col("cv"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    eachBatch(rows, Some(queryName), checkpoint) { (batch, batchId) =>
      // distinct (id, vec, label) payloads screen INDEPENDENTLY, keyed
      // by a 64-bit payload hash: an at-least-once source can land the
      // same id twice in one batch (replay, or a correction with a new
      // label/vector) — pooling edges by id alone would merge both
      // rows' candidates into one top-k and fan the same mixed counts
      // onto every output row; exact duplicate rows collapse via the
      // distinct instead of double-counting half the neighborhood.
      val b0 = batch.select(id.as("id"), vec.as("v"), label.as("lbl"))
        .distinct()
      val rk = xxhash64(col("id").cast("string"),
        col("lbl").cast("string"), col("v"))
      val b = AnnSearch.index(b0, col("v"), planes)
        .withColumn("nrm", sqrt(VF.normSq(col("v"))))
        .withColumn("rk", rk)
        .withColumn("m", explode(typedLit(masks)))
        .withColumn("pb", col("bucket").bitwiseXOR(col("m")))
      val scored = b.as("a").join(idx.as("c"),
          col("a.pb") === col("c.bucket"))
        .select(col("a.rk").as("rk"), col("a.lbl").as("src_lbl"),
          col("c.dst").as("dst"), col("c.dst_lbl").as("dst_lbl"),
          (VF.dot(col("a.v"), col("c.cv")) /
            (col("a.nrm") * col("c.cnrm"))).as("score"))
      val counts = org.apache.spark.sql.graft.GroupTopK.perGroup(
          scored, Seq(col("rk")), Seq(desc("score"), asc("dst")), k)
        .groupBy(col("rk"))
        .agg(count(lit(1)).as("n_nbrs"),
          sum((col("dst_lbl") === col("src_lbl")).cast("long")).as("n_agree"))
      overwriteBatch(b0.withColumn("rk", rk)
        .join(counts, Seq("rk"), "left")
        .select(Seq(col("id"), col("lbl").as("label")) ++
          graft.operators.Search.consensusColumns(tau): _*),
        batchId, outPath)
    }
  }

  /** Streaming token-distribution drift monitor: per micro-batch, the
    * Laplace-smoothed `KL(batch ‖ reference)` of the arriving documents'
    * token distribution against a FROZEN reference table `(t, c_t)` (built
    * once from the trusted corpus — distribution drift in the reference
    * itself is an offline rebuild-and-cutover, never streaming mutation,
    * the quantizer-maintenance rule). One (batch_id, n_tokens, n_types,
    * oov_types, kl_nats) row per batch under the sink contract; an alert
    * threshold on `kl_nats` + `oov_types` is the reader's one-filter query. State per batch is ONE
    * row — the monitor's footprint is independent of batch size.
    */
  def startDriftMonitor(
      docs: DataFrame,          // streaming; must contain the text column
      text: Column,
      reference: DataFrame,     // static (t, c_t)
      outPath: String,
      checkpoint: String,
      queryName: String = "drift_monitor"): StreamingQuery =
    eachBatch(docs, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.TextAnalysis.klAgainstReference(batch, text, reference),
        batchId, outPath)
    }

  /** Streaming embedding-drift monitor — the vector twin of
    * [[startDriftMonitor]] (which watches token distributions): each
    * arriving micro-batch of vectors is compared per-dimension against the
    * FROZEN reference batch via
    * [[graft.operators.EmbedQc.embeddingDrift]], and the d drift rows
    * persist under the sink contract. An embedding-model swap mid-ingest
    * shows up as mass |shift_z| in the next batch's rows, BEFORE the drifted
    * vectors contaminate an index or training mix. The reference is reduced to its
    * d-row per-dim stats ONCE at start-up
    * ([[graft.operators.EmbedQc.referenceStats]], collected local — d rows)
    * and every micro-batch joins against that frozen table: the per-batch
    * cost is one moments pass over the batch plus a d-row broadcast, with
    * the reference never re-read.
    */
  def startEmbeddingDriftMonitor(
      vectors: DataFrame,       // streaming; must contain the vec column
      vec: Column,
      reference: DataFrame,     // static frame carrying the same vec column
      outPath: String,
      checkpoint: String,
      queryName: String = "embedding_drift_monitor"): StreamingQuery = {
    val spark = reference.sparkSession
    val statsDf = graft.operators.EmbedQc.referenceStats(reference, vec)
    // materialize the d stat rows at start-up; rebuild as a LOCAL frame so
    // no per-batch plan reaches back into the reference scan
    val frozen = spark.createDataFrame(
      spark.sparkContext.parallelize(statsDf.collect().toIndexedSeq, 1),
      statsDf.schema)
    eachBatch(vectors, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(graft.operators.EmbedQc.embeddingDriftFromStats(frozen, batch, vec),
        batchId, outPath)
    }
  }

  /** Score the maintained volume state for anomalies: sum-merge the
    * per-batch bucket counts (the true totals, however batches straddled
    * buckets) and run the trailing z-score epilogue
    * ([[graft.operators.Relational.anomalyScoresFromCounts]]) — the live
    * ingest-health read-out, computed from bucket-count state without
    * re-reading any raw events.
    */
  def loadVolumeAnomalies(
      spark: org.apache.spark.sql.SparkSession, path: String,
      bucketMinutes: Int, histBuckets: Int = 24, minHist: Int = 6): DataFrame =
    graft.operators.Relational.anomalyScoresFromCounts(
      Parquet.read(spark, path)
        .groupBy("g", "b").agg(sum(col("n_events")).as("n_events")),
      bucketMinutes, histBuckets, minHist)

  /** Stream-stream interval join: attribute each purchase to every click by
    * the same user within `horizonMinutes` before it. Both sides carry
    * watermarks and the join condition bounds event-time distance, so each
    * side's buffered state is limited to the horizon — the canonical
    * watermarked stream-stream join shape.
    */
  def clickAttribution(
      clicks: DataFrame,
      purchases: DataFrame,
      horizonMinutes: Int = 30): DataFrame = {
    val delay = s"$horizonMinutes minutes"
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", delay)
    p.join(c,
        col("p_user") === col("c_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("purchase_id"), col("p_user").as("user_id"), col("click_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("gap_us"))
  }

  /** Closed-session emission via `flatMapGroupsWithState` with EVENT-TIME
    * timeout: state accumulates the open session per user and emits
    * nothing; when the watermark passes `gap` beyond the session's last
    * event the timeout path fires and the finished session is emitted
    * exactly once, then its state is removed. This is the flatMap shape —
    * 0 rows on update, 1 on close — that `mapGroupsWithState` (one row per
    * invocation, [[runningUserTotals]]) cannot express.
    */
  final case class ClosedSession(user_id: Long, n_events: Long, start_us: Long, end_us: Long)

  def closedSessions(events: DataFrame, gapMinutes: Int = 30): Dataset[ClosedSession] = {
    val sp = events.sparkSession
    import sp.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      // the watermarked TIMESTAMP column must survive into the stateful
      // operator — event-time timeouts are rejected without it
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, s, e) = state.get
            state.remove()
            Iterator.single(ClosedSession(user, n, s, e))
          } else {
            var (n, s, e) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
            rows.foreach { case (_, t) =>
              val us = t.getTime * 1000L
              n += 1; s = math.min(s, us); e = math.max(e, us)
            }
            state.update((n, s, e))
            // close once the watermark passes gap beyond the last event
            state.setTimeoutTimestamp(e / 1000L + gapMs)
            Iterator.empty
          }
      }
  }

  /** Streaming zone-map maintenance — the layout-tier analog of the index
    * maintenance screens above: each micro-batch lands in its own
    * `batch_id` data partition AND contributes its files' manifest entries
    * ([[graft.sources.LayoutManifest.entriesFor]], named relative to
    * `dataPath`) at the same time, so [[graft.sources.Layout.prunedRead]]
    * keeps pruning at planning time over everything ever ingested without
    * any manifest rebuild (the entries for a batch are derived from that
    * batch's files only — no rescan of history, the invariant that makes
    * this viable at a 100 TB accumulated table).
    *
    * Both writes follow the sink contract, so a retried batch replaces its
    * own data partition and its own manifest rows together: the manifest
    * never references files a retry removed.
    */
  def startZoneMapMaintenance(
      rows: DataFrame,          // streaming; must contain statCol
      statCols: Seq[String],
      dataPath: String,
      manifestPath: String,
      checkpoint: String,
      queryName: String = "zonemap_maintenance"): StreamingQuery =
    eachBatch(rows, Some(queryName), checkpoint) { (batch, batchId) =>
      overwriteBatch(batch, batchId, dataPath)
      val spark = batch.sparkSession
      val entries = LayoutManifest
        .entriesFor(spark, Seq(s"$dataPath/batch_id=$batchId"), statCols)
        .map(e => e.copy(name = s"batch_id=$batchId/${e.name}"))
      overwriteBatch(spark.createDataFrame(entries), batchId, manifestPath)
    }

  /** The maintained manifest, ready for [[graft.sources.Layout.prunedRead]]
    * over the data path (entry names are relative to it, so the batch
    * partitioning is transparent). It was never committed, so it carries
    * version -1 and no props.
    */
  def loadZoneMap(spark: org.apache.spark.sql.SparkSession,
      path: String): LayoutManifest.Manifest = {
    import spark.implicits._
    LayoutManifest.Manifest(-1L, Map.empty,
      Parquet.read(spark, path).drop("batch_id")
        .as[LayoutManifest.FileEntry].collect().toSeq.sortBy(_.name))
  }

  /** Session-window stats per user (native session_window operator): the
    * streaming twin of [[graft.operators.Relational.sessionize]] — state is
    * per-user session windows, closed and emitted once the watermark passes
    * the gap.
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("user_id"),
        col("n_events"))
}
