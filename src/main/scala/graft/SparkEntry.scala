package graft

import graft.lake.LakeTable
import graft.model.{TableMapping, Transcripts}
import graft.operators.{Similarity, TextPipeline}
import graft.streaming.CdcStream
import graft.verify.EventsCdc
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory) and
  * §2.7 (pipeline extensions). Each `queries` entry is one operator;
  * `oracleSql` carries the DuckDB recomputation the driver checks against.
  */
object SparkEntry {

  /** Flagship: generate a deterministic transcript CDC log (tiny scale),
    * replay it through Structured Streaming foreachBatch merge into the
    * lake table, and return the converged transcripts state. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-entry").toString
    val cfg = gen.Gen.Config(numEvents = 20000L, numConvs = 200, skew = 2.0,
      numSids = 2, evolveAtId = Some(10000L), numPartitions = 8)
    gen.Gen.writeLog(spark, cfg, s"$dir/wal", 4)
    val lake = LakeTable.create(spark, s"$dir/transcripts", Transcripts.spec())
    CdcStream.runAvailable(spark, s"$dir/wal/seg-*", s"$dir/ckpt",
      Seq(CdcStream.Route(TableMapping("transcripts", "transcripts"), lake)))
    lake.read().orderBy("conv_id", "turn_idx")
  }

  /** One entry per implemented operator (SURVEY.md §2 + §2.7). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- CDC engine (events table interpreted as a change log) ---
    "cdc_replay_clone" -> EventsCdc.qClone,
    "cdc_pgoutput_replay" -> EventsCdc.qPgoutputReplay,
    "cdc_pgoutput_replay_v2" -> EventsCdc.qPgoutputReplayV2,
    "cdc_replay_filter" -> EventsCdc.qFilter,
    "cdc_replay_filter_cel" -> EventsCdc.qFilterCel,
    "cdc_replay_set" -> EventsCdc.qSet,
    "cdc_replay_pkupdate" -> EventsCdc.qPkUpdate,
    "cdc_replay_append" -> EventsCdc.qAppend,
    "cdc_replay_sid_fanin" -> EventsCdc.qSidFanin,
    "cdc_replay_routing" -> EventsCdc.qRouting,
    "cdc_history_scd2" -> EventsCdc.qHistory,
    "cdc_history_filter" -> EventsCdc.qHistoryFilter,
    "cdc_mapfile_e2e" -> EventsCdc.qMapfileE2e,
    "cdc_state_apply" -> EventsCdc.qStateApply,
    "cdc_stream_watermark_agg" -> EventsCdc.qWatermarkAgg,
    "cdc_lineage_watermark" -> EventsCdc.qLineage,
    "cdc_time_travel" -> EventsCdc.qTimeTravel,
    "cdc_labels_e2e" -> EventsCdc.qLabelsE2e,
    "cdc_metrics_ops" -> EventsCdc.qMetrics,
    "cdc_metrics_batches" -> EventsCdc.qMetricsBatches,
    "cdc_drift_deletemiss" -> EventsCdc.qDriftDeleteMiss,
    "cdc_lww_window" -> EventsCdc.qLwwWindow,
    "cdc_toast_lastnonnull" -> EventsCdc.qToastLastNonNull,
    // --- training-data pipeline: dedup / text analysis (documents) ---
    "dedup_exact" -> TextPipeline.dedupExact,
    "dedup_ngram_jaccard" -> TextPipeline.dedupNgramJaccard,
    "dedup_minhash_lsh" -> TextPipeline.dedupMinhashLsh,
    "dedup_simhash" -> TextPipeline.dedupSimhash,
    "dedup_clusters" -> TextPipeline.dedupClusters,
    "dedup_clusters_incremental" -> TextPipeline.dedupClustersIncremental,
    "dedup_clusters_deletes" -> TextPipeline.dedupClustersDeletes,
    "dedup_incremental" -> TextPipeline.dedupIncremental,
    "dedup_incremental_simhash" -> TextPipeline.dedupIncrementalSimhash,
    "text_lang_id" -> TextPipeline.langId,
    "text_quality" -> TextPipeline.quality,
    "text_tokens" -> TextPipeline.tokenCount,
    "text_tokens_vocab" -> TextPipeline.tokenCountVocab,
    "text_fingerprint" -> TextPipeline.fingerprint,
    "pipeline_curation" -> TextPipeline.curation,
    "pipeline_curation_clustered" -> TextPipeline.curationClustered,
    "pipeline_pack_sequences" -> TextPipeline.packSequences,
    "pipeline_decontaminate" -> TextPipeline.decontaminate,
    "pipeline_mix_sample" -> TextPipeline.mixSample,
    "text_repetition" -> TextPipeline.repetition,
    "pipeline_boilerplate" -> TextPipeline.boilerplate,
    "mm_binary_meta" -> TextPipeline.binaryMeta,
    "mm_decode_meta" -> operators.Multimodal.qDecodeMeta,
    "mm_frame_sample" -> operators.Multimodal.frameSample,
    // --- similarity search (embeddings) ---
    "embed_knn_topk" -> Similarity.knnBrute,
    "embed_ann_lsh" -> Similarity.annLsh,
    "embed_ann_ivf" -> Similarity.annIvf,
    "embed_cosine_dedup" -> Similarity.cosineDedup
  )

  /** DuckDB oracle per query (same parquet tables). */
  def oracleSql: Map[String, String] = Map(
    "cdc_replay_clone" -> EventsCdc.cloneOracle(),
    // the pgoutput wire round-trip must converge to the identical state
    "cdc_pgoutput_replay" -> EventsCdc.cloneOracle(),
    // protocol-v2 streamed rendering (interleaved blocks, abort decoys)
    // must ALSO converge to the identical state
    "cdc_pgoutput_replay_v2" -> EventsCdc.cloneOracle(),
    "cdc_replay_filter" -> EventsCdc.cloneOracle(filterSql = "value > 10"),
    // the CEL predicate of cdc_replay_filter_cel, stated directly in SQL
    // (instr is 1-based in DuckDB too, so `instr - 1` IS CEL indexOf; the
    // nops CTE exposes the key as k, the oracle-side name of user_id)
    "cdc_replay_filter_cel" -> EventsCdc.cloneOracle(filterSql =
      "((value > 10.0 AND instr(event_type, 'i') - 1 <> 0) OR " +
      "(k % 7 = 3 AND regexp_matches(event_type, '^(purchase|view)$')))" +
      " AND length(coalesce(props, 'x')) <> 0"),
    "cdc_replay_set" -> EventsCdc.setOracle,
    "cdc_replay_pkupdate" -> EventsCdc.cloneOracle(pkUpdate = true),
    "cdc_replay_append" -> EventsCdc.cloneOracle(append = true),
    "cdc_replay_sid_fanin" -> EventsCdc.cloneOracle(sidExpr = "'s' || (k % 2)"),
    "cdc_replay_routing" -> EventsCdc.cloneOracle(excl = "event_type <> 'view'"),
    "cdc_history_scd2" -> EventsCdc.historyOracle(),
    "cdc_history_filter" -> EventsCdc.historyOracle(filterSql = "value > 10"),
    "cdc_mapfile_e2e" -> EventsCdc.cloneOracle(
      filterSql = "value > 10", sidExpr = "'s' || (k % 2)"),
    // same fold oracle as cdc_replay_clone — the state-store strategy must
    // converge to the identical final table
    "cdc_state_apply" -> EventsCdc.cloneOracle(),
    "cdc_stream_watermark_agg" -> EventsCdc.watermarkAggOracle,
    "cdc_lineage_watermark" -> EventsCdc.lineageOracle,
    "cdc_time_travel" -> EventsCdc.timeTravelOracle,
    "cdc_labels_e2e" -> EventsCdc.labelsE2eOracle,
    "cdc_metrics_ops" -> EventsCdc.metricsOracle,
    "cdc_metrics_batches" -> EventsCdc.metricsBatchesOracle,
    "cdc_drift_deletemiss" -> EventsCdc.driftDeleteMissOracle,
    "cdc_lww_window" -> EventsCdc.lwwWindowOracle,
    "cdc_toast_lastnonnull" -> EventsCdc.toastOracle,
    "dedup_exact" -> TextPipeline.dedupExactOracle,
    "dedup_ngram_jaccard" -> TextPipeline.dedupNgramJaccardOracle,
    "dedup_minhash_lsh" -> TextPipeline.dedupMinhashLshOracle,
    "dedup_simhash" -> TextPipeline.dedupSimhashOracle,
    "dedup_clusters" -> TextPipeline.dedupClustersOracle,
    "dedup_clusters_incremental" -> TextPipeline.dedupClustersIncrementalOracle,
    "dedup_clusters_deletes" -> TextPipeline.dedupClustersDeletesOracle,
    "dedup_incremental" -> TextPipeline.dedupIncrementalOracle,
    "dedup_incremental_simhash" -> TextPipeline.dedupIncrementalSimhashOracle,
    "text_lang_id" -> TextPipeline.langIdOracle,
    "text_quality" -> TextPipeline.qualityOracle,
    "text_tokens" -> TextPipeline.tokenCountOracle,
    "text_tokens_vocab" -> TextPipeline.tokenCountVocabOracle,
    "text_fingerprint" -> TextPipeline.fingerprintOracle,
    "pipeline_curation" -> TextPipeline.curationOracle,
    "pipeline_curation_clustered" -> TextPipeline.curationClusteredOracle,
    "pipeline_pack_sequences" -> TextPipeline.packSequencesOracle,
    "pipeline_decontaminate" -> TextPipeline.decontaminateOracle,
    "pipeline_mix_sample" -> TextPipeline.mixSampleOracle,
    "text_repetition" -> TextPipeline.repetitionOracle,
    "pipeline_boilerplate" -> TextPipeline.boilerplateOracle,
    "mm_binary_meta" -> TextPipeline.binaryMetaOracle,
    "mm_decode_meta" -> operators.Multimodal.qDecodeMetaOracle,
    "mm_frame_sample" -> operators.Multimodal.frameSampleOracle,
    "embed_knn_topk" -> Similarity.knnBruteOracle,
    "embed_ann_lsh" -> Similarity.annLshOracle,
    "embed_ann_ivf" -> Similarity.annIvfOracle,
    "embed_cosine_dedup" -> Similarity.cosineDedupOracle
  )
}
