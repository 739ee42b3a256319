package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.IvfSpec
import graft.streaming.{AnomalyStream, AsOfStream, CorpusStream, DedupStream, ImportanceStream, RangeJoinStream, SimilarityStream, SpanStream, TopicStream}

/** SURVEY.md §2a streaming rows — each runs a real Structured Streaming
  * job (AvailableNow) to parquet and returns the result.
  *
  * stream_merge / stream_compact / stream_window reuse the batch
  * operators on a stream, so their DuckDB oracles are the batch oracles
  * verbatim — streaming correctness is gate-checked, not just
  * rows-counted. stream_compact_updates gates the changelog path the
  * same way: a multi-batch replay's upsert/delete feed is reconciled to
  * final state, which must equal batch compaction (r9).
  */
object StreamQueries {

  /** The COMPLETE-MODE sinks, classified by what their streaming state
    * scales with — the §5 rule made machine-checkable (round-10 VERDICT
    * #7): complete mode re-emits full state per trigger, so it is the
    * production form ONLY when state is bounded by a value DOMAIN
    * (types, strata, sources — constant as data grows). A TIME-GRID
    * state (windows × types) is legal while the covered time range is
    * bounded — the watermarked append form is the unbounded-time path
    * (TopicStream.windowStreamAppend). KEY-CARDINALITY state grows with
    * the data and MUST ship a changelog twin as the production default —
    * the complete face stays as the oracle-checkable read surface.
    * StreamingSpec enforces all three empirically (output growth across
    * a 10× input step) and structurally (every key-cardinality entry has
    * its registered changelog twin).
    */
  val completeModeDomains: Map[String, String] = Map(
    "stream_compact" -> "key-cardinality",
    "stream_window" -> "time-grid",
    "stream_window_hopping" -> "time-grid",
    "stream_topk_agg" -> "domain-bounded",
    "stream_percentiles" -> "domain-bounded",
    "stream_abtest" -> "domain-bounded",
    "stream_source_stats" -> "domain-bounded")

  /** The changelog production default for each key-cardinality
    * complete-mode surface.
    */
  val changelogTwins: Map[String, String] = Map(
    "stream_compact" -> "stream_compact_updates")

  private def eventsPath(dir: String) = s"$dir/events.parquet"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_merge" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_merge", dir)
      TopicStream.mergeAllStream(s, eventsPath(dir), "events.v2", out, ckpt)
        .select(col("topic"), col("partition"), col("key"), col("value"),
          col("src_offset"), col("kind"),
          graft.sources.Topics.headersStr(col("headers")).as("headers_str"))
        .orderBy(col("src_offset"), col("kind"))
    }),
    "stream_compact" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_compact", dir)
      TopicStream.compactStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("partition"), col("key"))
    }),
    "stream_window" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_window", dir)
      TopicStream.windowStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("hour"), col("event_type"))
    }),
    // Streaming hopping windows (r9): native window() with slide on a
    // stream; replay == events_window_hopping (its oracle verbatim).
    "stream_window_hopping" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_window_hopping", dir)
      TopicStream.hoppingStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("w_start"), col("event_type"))
    }),
    "stream_dlq" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_dlq", dir)
      val (clean, dlq) = TopicStream.dlqStream(s, eventsPath(dir), TopicQueries.dlqError,
        s"$out-clean", s"$out-dlq", ckpt)
      clean.withColumn("sink", lit("clean"))
        .unionByName(dlq.withColumn("sink", lit("dlq")))
        .select(col("sink"), col("error"), col("partition"), col("offset"),
          col("key"), col("value"))
        .orderBy(col("offset"))
    }),
    // Streaming set-similarity join: near-dup-on-ingest; self-ingest
    // replay reproduces the batch MinHash pairs (batch oracle verbatim).
    // online snapshot delta (r10): new-shard docs classified per
    // micro-batch against the materialized base indexes; replay == the
    // batch corpus_delta exactly (oracle verbatim)
    "stream_delta" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_delta", dir)
      DedupStream.snapshotDeltaStream(s, s"$dir/documents.parquet", out, ckpt)
        .orderBy(col("doc_id"))
    }),
    // snapshot-ADVANCING delta (r11): each shard's novel docs are
    // appended to the probe indexes, so shard k classifies against
    // base ∪ novel(<k) — the oracle unrolls the recurrence in SQL
    "stream_delta_advance" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_delta_advance", dir)
      DedupStream.snapshotDeltaAdvancingStream(s, s"$dir/documents.parquet", out, ckpt)
        .orderBy(col("doc_id"))
    }),
    "stream_dedup_ingest" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_dedup_ingest", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      DedupStream.nearDupIngestStream(s, s"$dir/documents.parquet", out, ckpt)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // Streaming ANN serving: query vectors probe the static IVF index;
    // replay reproduces sim_topk_ivf (batch oracle verbatim).
    // ONLINE semantic snapshot delta (r11): new-shard vectors classified
    // per micro-batch against the once-materialized bucketed base
    // assignment; replay == embedding_delta (oracle verbatim)
    "stream_embedding_delta" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_embedding_delta", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.semanticDeltaStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("vec_id"))
    }),
    // semantic snapshot-ADVANCING delta (r11): each shard's novel
    // vectors are appended to the bucketed assignment, so shard k
    // classifies against base ∪ novel(<k) — the oracle unrolls the
    // recurrence in SQL (embedding-space deltaAdvance pattern)
    "stream_embedding_delta_advance" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_embedding_delta_advance", dir)
      SimilarityStream.semanticDeltaAdvancingStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("vec_id"))
    }),
    "stream_sim_ivf" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_ivf", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("query_id"), col("rnk"))
    }),
    // Streaming ANN serving over the COMPACT PQ index: per batch, probe
    // + code-only scoring + shortlist; full vectors only for the exact
    // rerank of the shortlist. Replay reproduces sim_topk_ivf_pq
    // (batch oracle verbatim).
    "stream_sim_ivf_pq" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_ivf_pq", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt,
        IvfSpec(codes = IvfSpec.PqFormula), tablePrefix = "graft_pq_stream")
        .orderBy(col("query_id"), col("rnk"))
    }),
    // The FITTED-residual-book serving twin (r16): same compact-index
    // stream plan, code/score kernels from the shared
    // Similarity.servingKernels builder (deterministic fit — batch and
    // stream books bit-identical). Replay reproduces
    // sim_topk_ivf_pq_resfit (batch oracle verbatim).
    "stream_sim_ivf_pq_resfit" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_ivf_pq_resfit", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt,
        IvfSpec(codes = IvfSpec.PqFitted()), tablePrefix = "graft_pq_resfit_stream")
        .orderBy(col("query_id"), col("rnk"))
    }),
    // The FULLY-fitted serving ladder's twin (r16): laddered coarse
    // k-means + residual book fitted against it — the recall-lifting
    // arm (sf10 0.175 vs the formula ladder's 0.100). Replay reproduces
    // sim_topk_ivf_pq_fitted_sized (batch oracle verbatim).
    "stream_sim_ivf_pq_fitted" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_ivf_pq_fitted", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt,
        IvfSpec.FittedPq, tablePrefix = "graft_pq_fitted_stream")
        .orderBy(col("query_id"), col("rnk"))
    }),
    // The r17b high-recall serving point's twin: 16-subspace × 64-code
    // residual book (8192-row sample, 41000.. seeds) + the ×4 shortlist
    // — recall@10 0.963 sf1 / 0.875 sf10 on the batch row. Replay
    // reproduces sim_topk_ivf_pq_fitted_m16 (batch oracle verbatim).
    "stream_sim_ivf_pq_m16" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_ivf_pq_m16", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt,
        IvfSpec.M16, tablePrefix = "graft_pq_m16_stream")
        .orderBy(col("query_id"), col("rnk"))
    }),
    // Streaming PQ-compact MIPS serving (r14): codes-resident
    // augmented-space index + original-vector rerank table materialized
    // once; per batch, probe + PQ shortlist + exact raw-ip rerank.
    // Replay reproduces sim_topk_mips_ivf_pq (oracle verbatim).
    "stream_sim_mips_pq" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sim_mips_pq", dir)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      SimilarityStream.ivfTopKStream(s, s"$dir/embeddings.parquet", out, ckpt,
        IvfSpec.MipsPq, tablePrefix = "graft_mips_pq_stream")
        .orderBy(col("query_id"), col("rnk"))
    }),
    // Streaming quantization-collision dedup (r15): the corpus code
    // groups fitted once offline (bucketed table), arriving vectors
    // encode statelessly and probe it per batch; replay reproduces
    // dedup_pq_codes (oracle verbatim).
    "stream_pq_dedup" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_pq_dedup", dir)
      SimilarityStream.pqCodeDedupStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("vec_id"))
    }),
    // Streaming twin of the flagship cleaning pipeline: quality filter +
    // stateful exact dedup + exact near-dup probe per batch; replay
    // reproduces batch cleanCorpus (its oracle verbatim).
    "stream_clean_ingest" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_clean_ingest", dir)
      DedupStream.cleanIngestStream(s, s"$dir/documents.parquet", out, ckpt)
        .orderBy(col("doc_id"))
    }),
    // Event-time sessionization changelog: sessions closed by in-batch
    // gaps or watermark timeouts. Oracle-gated (r9): under AvailableNow
    // replay the emitted set is exactly characterizable in SQL — every
    // non-final session of a user is gap-closed, and a user's final
    // session is timeout-closed iff the final watermark (global max
    // event-time ms − delay) passed its last-event + gap. Open tail
    // sessions beyond that horizon are withheld, which the oracle
    // reproduces with the same inequality.
    "stream_sessionize" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_sessionize", dir)
      TopicStream.sessionizeStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("user_id"), col("session_start"))
    }),
    // Stream-stream ask: records joined (watermarked, time-bounded) with
    // a DECISIONS stream — the reference ActionSource's incremental
    // shape; undecided records route nothing, decided ones flow through
    // the same route projection as the batch ask (oracle verbatim).
    "stream_ask_decisions" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_ask_decisions", dir)
      TopicStream.askDecisionsStream(s, eventsPath(dir), out, ckpt)
        .select(col("topic"), col("partition"), col("key"), col("value"),
          col("src_offset"), col("kind"),
          graft.sources.Topics.headersStr(col("headers")).as("headers_str"))
        .orderBy(col("src_offset"), col("kind"))
    }),
    // Stream-stream join: DLQ replay reconciliation — the dead-letter
    // stream joined (watermarked, time-bounded) with a corrections
    // stream keyed by the failed record's coordinates; emitted pairs =
    // repaired records. Fix derivation is deterministic (even-offset
    // failures, +10 min), so the oracle replays the join in SQL.
    "stream_dlq_replay" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_dlq_replay", dir)
      TopicStream.dlqReplayStream(s, eventsPath(dir), TopicQueries.dlqError, out, ckpt)
        .orderBy(col("offset"))
    }),
    // Streaming as-of serving: arriving purchases resolve their user's
    // most recent prior click against the bucketed click-history table;
    // replay reproduces events_asof (its DuckDB ASOF oracle verbatim).
    "stream_asof" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_asof", dir)
      AsOfStream.asofStream(s, dir, out, ckpt)
        .orderBy(col("event_id"))
    }),
    // Streaming banded range join: arriving purchases count in-window
    // clicks against the (user_id, band)-bucketed index; replay
    // reproduces events_range_join (oracle verbatim).
    "stream_range_join" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_range_join", dir)
      RangeJoinStream.rangeCountStream(s, dir, out, ckpt)
        .orderBy(col("event_id"))
    }),
    // Streaming funnel: arriving purchases resolve click-then-view
    // against two bucketed histories; replay reproduces events_funnel
    // (oracle verbatim).
    "stream_funnel" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_funnel", dir)
      AsOfStream.funnelStream(s, dir, out, ckpt)
        .orderBy(col("event_id"))
    }),
    // Changelog compaction, oracle-gated end-to-end: a 4-file multi-batch
    // replay drives the flatMapGroupsWithState upsert/delete feed, and the
    // feed is reconciled to final state (last live update per key) — which
    // must equal batch compaction exactly (topic_compact oracle verbatim).
    "stream_compact_updates" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_compact_updates", dir)
      val split = TopicStream.splitInput(s, eventsPath(dir), 4, s"$out-input")
      val changelog = TopicStream.compactUpdatesStream(s, split, out, ckpt,
        maxFilesPerTrigger = Some(1))
      graft.operators.TopicOps.reconcileChangelog(changelog)
        .orderBy(col("partition"), col("key"))
    }),
    // Streaming SCD2 maintenance (r9): each arriving record closes its
    // key's open version; an offset-ordered 4-file replay (the Kafka
    // per-partition ordering contract on the file source) must emit
    // exactly the batch operator's closed versions.
    "stream_scd2" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_scd2", dir)
      val split = TopicStream.orderedSplitInput(s, eventsPath(dir), 4, s"$out-input")
      TopicStream.scdStream(s, split, out, ckpt, maxFilesPerTrigger = Some(1))
        .select(col("topic"), col("partition"), col("key"), col("value"), col("seq"),
          col("valid_from_offset"), col("valid_to_offset"),
          col("valid_from_ts"), col("valid_to_ts"))
        .orderBy(col("key"), col("seq"))
    }),
    // Online anomaly flagging vs a history-fitted constant-size stats
    // index; replay = events_anomaly verbatim.
    "stream_anomaly" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_anomaly", dir)
      AnomalyStream.anomalyStream(s, dir, out, ckpt)
        .orderBy(col("event_id"))
    }),
    // Live corpus data card: complete-mode per-(source, lang) stats whose
    // state is one row per stratum; full replay = batch card verbatim.
    "stream_source_stats" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_source_stats", dir)
      CorpusStream.sourceStatsStream(s, s"$dir/documents.parquet", out, ckpt)
        .orderBy(col("source"), col("lang"))
    }),
    // Online DSIR scoring vs the bucketed history-fitted weight index;
    // zero cross-batch state; replay = pipeline_importance verbatim.
    "stream_importance" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_importance", dir)
      ImportanceStream.importanceStream(s, dir, out, ckpt)
        .orderBy(col("doc_id"))
    }),
    // Streaming PCA scoring (r13): axis fitted ONCE on the historical
    // corpus (the batch fit/score split's deployment shape), every
    // micro-batch scores against the fitted literal — stateless, no
    // shuffle; full replay == embedding_pca_project (oracle verbatim).
    "stream_pca_score" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_pca_score", dir)
      graft.streaming.PcaStream.pcaScoreStream(s, dir, out, ckpt)
        .orderBy(col("vec_id"))
    }),
    // Streaming MIS-representative assignment (r14): edge index + Luby
    // MIS fitted ONCE offline, every micro-batch classifies its vectors
    // to their best selected kNN neighbor off the bucketed index —
    // stateless per trigger; full replay == knn_mis_assign (oracle
    // verbatim).
    "stream_mis_assign" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_mis_assign", dir)
      graft.streaming.GraphStream
        .misAssignStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("vec_id"))
    }),
    // Streaming cluster card (r14): assignments stream in, the
    // per-representative card closes with one order-free epilogue
    // aggregation (the stream_percentiles pattern); replay ==
    // knn_mis_cluster_stats (oracle verbatim).
    "stream_mis_cluster_stats" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_mis_cluster_stats", dir)
      graft.streaming.GraphStream
        .misClusterStatsStream(s, s"$dir/embeddings.parquet", out, ckpt)
        .orderBy(col("rep_id"))
    }),
    // Streaming running/trailing aggregates (r9): the ROWS frame made
    // incremental — O(1) per-user state (two counters + a 5-deep
    // deque); ordered replay == events_moving_agg (oracle verbatim).
    "stream_moving_agg" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_moving_agg", dir)
      val split = TopicStream.orderedSplitInput(s, eventsPath(dir), 4, s"$out-input")
      TopicStream.movingAggStream(s, split, out, ckpt, maxFilesPerTrigger = Some(1))
        .select(col("event_id"), col("user_id"), col("ts"), col("cents"),
          col("running_cents"), col("trail5_cents"), col("n_seen"))
        .orderBy(col("event_id"))
    }),
    // Streaming top-k (r9): the custom TypedImperativeAggregate AS
    // streaming state — mergeable heaps per trigger; replay ==
    // events_topk_agg verbatim.
    "stream_topk_agg" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_topk_agg", dir)
      TopicStream.topKStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("event_type"))
    }),
    // Streaming exact percentiles (r9): complete-mode value-grid
    // histogram + a batch rank-selection epilogue per trigger — the
    // legal two-layer form; replay == events_percentiles verbatim.
    "stream_percentiles" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_percentiles", dir)
      TopicStream.percentilesStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("event_type"))
    }),
    // Live A/B monitoring (r9): one-aggregation experiment card in
    // complete mode; replay == events_abtest (oracle verbatim).
    "stream_abtest" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_abtest", dir)
      TopicStream.abtestStream(s, eventsPath(dir), out, ckpt)
        .orderBy(col("event_type"))
    }),
    // Per-source ingest quota (r9): first-cap admission with ONE counter
    // per source; ordered replay makes arrival order = doc_id order, so
    // the oracle is a plain per-source rank.
    "stream_quota" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_quota", dir)
      val split = TopicStream.orderedSplitInput(s, s"$dir/documents.parquet", 4,
        s"$out-input", idCol = "doc_id")
      CorpusStream.quotaStream(s, split, out, ckpt, maxFilesPerTrigger = Some(1))
        .select(col("doc_id"), col("source"), col("admit_seq"))
        .orderBy(col("doc_id"))
    }),
    // Streaming span removal vs the bucketed history-fitted dup-span
    // vocabulary; zero cross-batch state; replay = pipeline_span_dedup
    // verbatim.
    "stream_span_dedup" -> ((s, dir) => {
      val (out, ckpt) = TopicStream.scratchDirs("stream_span_dedup", dir)
      SpanStream.spanDedupStream(s, dir, out, ckpt)
        .orderBy(col("doc_id"))
    }))

  def oracles: Map[String, String] = Map(
    "stream_merge" -> TopicQueries.oracles("topic_merge_all"),
    "stream_compact" -> TopicQueries.oracles("topic_compact"),
    // changelog reconciled to final state == batch compaction exactly
    "stream_compact_updates" -> TopicQueries.oracles("topic_compact"),
    // ordered replay ⇒ admission order == doc_id order per source
    "stream_quota" ->
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT)
         |           AS admit_seq
         |  FROM documents)
         |SELECT doc_id, source, admit_seq FROM r
         |WHERE admit_seq <= 10 ORDER BY doc_id""".stripMargin,
    // emitted versions == the batch scd2 history's CLOSED versions
    // (open versions sit in the state store awaiting their close)
    "stream_scd2" ->
      s"""${TopicQueries.TopicCte}, h AS (
         |  SELECT topic, "partition", "key", "value", ts, "offset",
         |         lead(ts) OVER w AS valid_to_ts,
         |         lead("offset") OVER w AS valid_to_offset,
         |         CAST(row_number() OVER w AS INT) AS seq
         |  FROM topic
         |  WINDOW w AS (PARTITION BY topic, "partition", "key" ORDER BY "offset"))
         |SELECT topic, "partition", "key", "value", seq,
         |       "offset" AS valid_from_offset, valid_to_offset,
         |       ts AS valid_from_ts, valid_to_ts
         |FROM h WHERE "value" IS NOT NULL AND valid_to_offset IS NOT NULL
         |ORDER BY "key", seq""".stripMargin,
    "stream_window" -> AnalyticsQueries.oracles("events_window"),
    "stream_window_hopping" -> AnalyticsQueries.oracles("events_window_hopping"),
    "stream_dlq" -> TopicQueries.oracles("topic_dlq"),
    "stream_dedup_ingest" -> PipelineQueries.oracles("dedup_minhash"),
    // per-batch classification vs static base indexes == the batch
    // snapshot delta verbatim
    "stream_delta" -> PipelineQueries.oracles("corpus_delta"),
    "stream_delta_advance" -> PipelineQueries.deltaAdvanceOracleSql(3),
    "stream_embedding_delta" -> PipelineQueries.oracles("embedding_delta"),
    "stream_embedding_delta_advance" -> PipelineQueries.semanticDeltaAdvanceOracleSql(3),
    "stream_sim_ivf" -> PipelineQueries.oracles("sim_topk_ivf"),
    "stream_pq_dedup" -> PipelineQueries.oracles("dedup_pq_codes"),
    "stream_sim_ivf_pq" -> PipelineQueries.oracles("sim_topk_ivf_pq"),
    "stream_sim_ivf_pq_resfit" -> PipelineQueries.oracles("sim_topk_ivf_pq_resfit"),
    "stream_sim_ivf_pq_fitted" -> PipelineQueries.oracles("sim_topk_ivf_pq_fitted_sized"),
    "stream_sim_ivf_pq_m16" -> PipelineQueries.oracles("sim_topk_ivf_pq_fitted_m16"),
    // codes-resident augmented-space MIPS serving, replay == batch
    "stream_sim_mips_pq" -> PipelineQueries.oracles("sim_topk_mips_ivf_pq"),
    "stream_clean_ingest" -> PipelineQueries.oracles("pipeline_clean_corpus"),
    "stream_asof" -> AnalyticsQueries.oracles("events_asof"),
    "stream_range_join" -> AnalyticsQueries.oracles("events_range_join"),
    "stream_funnel" -> AnalyticsQueries.oracles("events_funnel"),
    // decided-record routing == batch ask-with-decisions-table exactly
    "stream_ask_decisions" -> TopicQueries.oracles("topic_ask_table"),
    "stream_source_stats" -> PipelineQueries.oracles("corpus_source_stats"),
    "stream_anomaly" -> AnalyticsQueries.oracles("events_anomaly"),
    // live experiment card == batch card exactly
    "stream_abtest" -> AnalyticsQueries.oracles("events_abtest"),
    // incremental ROWS frame == the batch window verbatim
    "stream_moving_agg" -> AnalyticsQueries.oracles("events_moving_agg"),
    // histogram state + batch epilogue == the batch percentiles verbatim
    "stream_percentiles" -> AnalyticsQueries.oracles("events_percentiles"),
    // streaming heap state == the batch top-k aggregate verbatim
    "stream_topk_agg" -> AnalyticsQueries.oracles("events_topk_agg"),
    "stream_importance" -> PipelineQueries.oracles("pipeline_importance"),
    "stream_pca_score" -> PipelineQueries.oracles("embedding_pca_project"),
    // stateless per-trigger assignment off the once-fitted index + MIS
    "stream_mis_assign" -> PipelineQueries.oracles("knn_mis_assign"),
    // assignment stream + one order-free card epilogue == the batch card
    "stream_mis_cluster_stats" -> PipelineQueries.oracles("knn_mis_cluster_stats"),
    "stream_span_dedup" -> PipelineQueries.oracles("pipeline_span_dedup"),
    // The emitted-session set replayed in SQL (r9): batch sessionization
    // plus the streaming emission rule — a non-final session of a user is
    // always gap-closed; the final session is timeout-closed iff the
    // final watermark (global max event-time ms − 30 min delay) passed
    // its last-event-ms + 30 min gap (EventTimeTimeout fires on
    // timeoutTimestamp < watermark; ms floors match getTime/epoch_ms).
    // Open tail sessions beyond the horizon are withheld on both sides.
    "stream_sessionize" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, "value",
         |         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
         |  FROM events),
         |flags AS (
         |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
         |                   OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
         |sess AS (
         |  SELECT *, CAST(SUM(new_sess) OVER (
         |    PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
         |  FROM flags),
         |agg AS (
         |  SELECT user_id, session_seq, COUNT(*) AS n_events,
         |    MIN(ts) AS session_start, MAX(ts) AS session_end,
         |    CAST(SUM(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         |  FROM sess GROUP BY user_id, session_seq),
         |ranked AS (
         |  SELECT *, MAX(session_seq) OVER (PARTITION BY user_id) AS max_seq
         |  FROM agg)
         |SELECT user_id, session_start, session_end, n_events, total_value
         |FROM ranked
         |WHERE session_seq < max_seq
         |   OR epoch_ms(session_end) + 1800000 < (SELECT MAX(ms) - 1800000 FROM e)
         |ORDER BY user_id, session_start""".stripMargin,
    // The reconciliation join replayed in SQL: fixes ⊂ dlq (even
    // offsets), so the equi-join on (topic, partition, offset) reduces
    // to that filter — which is exactly what makes the join verifiable.
    "stream_dlq_replay" ->
      s"""${TopicQueries.TopicCte}, dec AS (
         |  SELECT *, CASE WHEN "value" IS NULL THEN NULL
         |                 WHEN ${TopicQueries.KFieldSql} IS NULL THEN 'decode_failure'
         |                 WHEN ${TopicQueries.KFieldSql} > 90 THEN 'out_of_range' END AS error
         |  FROM topic)
         |SELECT topic, "partition", "offset", "key", error, '{"k": 1}' AS fixed_value
         |FROM dec WHERE error IS NOT NULL AND "offset" % 2 = 0
         |ORDER BY "offset"""".stripMargin)
}
