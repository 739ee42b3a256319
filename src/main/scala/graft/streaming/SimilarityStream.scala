package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.{IvfSpec, Similarity}
import graft.sources.Bucketing

/** Streaming ANN serving: query vectors arrive as a stream and probe the
  * static IVF index — the online face of [[Similarity.ivfTopK]].
  *
  * The stream side is stateless (centroid-cosine projection + probe
  * explode); candidates come from a stream-static join against the
  * corpus bucket index, MATERIALIZED ONCE as a table bucketed by
  * `bucket` so the static side plans with ZERO Exchange per trigger
  * (pinned in StreamingSpec) — the index shuffle is paid at write time,
  * never per micro-batch. The per-query top-k rerank runs inside each
  * micro-batch (a query's candidates never span batches, so batch-local
  * ranking is complete). At 100 TB this is exactly the serving layout:
  * the IVF/PQ index lives bucketed by its probe key and each trigger
  * shuffles only itself.
  */
object SimilarityStream {

  /** Bucket count for the materialized index tables (layout knob — see
    * [[Bucketing]]; 8 is the test-scale stand-in).
    */
  val IndexBuckets = 8

  /** The bounded index-serve step, shared by [[ivfTopKStream]] and the
    * Cli `query` verb: materialize the index, probe it, rerank per
    * query. The probe index is bucketed by `bucket` — (bucket, codes)
    * for a PQ spec, (bucket, full vector) otherwise — and a PQ spec
    * also writes the full-vector rerank table bucketed by `corpus_id`,
    * so neither static side is ever shuffled after the one-time write.
    * At scale the fat vectors live exactly like this: a corpus_id-
    * bucketed store fetched per shortlist.
    */
  private[graft] def writeIndex(corpus: DataFrame, s: Similarity.Serving,
                                idxTable: String, vecsTable: String): Unit = {
    val v = Similarity.vectors(corpus)
    Bucketing.writeBucketed(Similarity.indexSide(v, s),
      idxTable, IndexBuckets, "bucket")
    if (s.spec.pq)
      Bucketing.writeBucketed(
        v.select(col("vec_id").as("corpus_id"), col("e").as("ec"), col("nrm").as("nc")),
        vecsTable, IndexBuckets, "corpus_id")
  }

  /** Candidates of a [[Similarity.vectors]] frame of queries against the
    * probe index: exact-scored (query_id, corpus_id, cos) for full
    * vectors, PQ-scored (query_id, eq, nq, corpus_id, acos) otherwise.
    */
  private[graft] def probeIndex(queries: DataFrame, s: Similarity.Serving,
                                index: DataFrame): DataFrame = {
    val cand = Similarity.probeSide(queries, s).join(index, "bucket")
    if (s.spec.pq)
      cand.select(col("query_id"), col("eq"), col("nq"), col("corpus_id"), s.approx.as("acos"))
    else cand.select(col("query_id"), col("corpus_id"), s.exact.as("cos"))
  }

  /** Top-k of a bounded candidate set (a micro-batch, or the Cli's query
    * vectors): one window per query. A PQ spec shortlists k·refine by
    * the approximate score, then exact-scores ONLY the shortlist against
    * the rerank table. The candidate frame is read once: a micro-batch
    * is not cached, so a second read (e.g. to distill the query vectors)
    * would re-run the whole probe join. The single-window ranking equals
    * the batch plan's two-phase rerank — same total order.
    */
  private[graft] def serveBounded(cand: DataFrame, s: Similarity.Serving, k: Int,
                                  vecs: => DataFrame): DataFrame = s.named(
    if (!s.spec.pq) Similarity.rerankTopK(cand, k)
    else {
      val wa = Window.partitionBy(col("query_id")).orderBy(col("acos").desc, col("corpus_id"))
      val short = cand.withColumn("srnk", row_number().over(wa))
        .filter(col("srnk") <= k * s.refine)
      Similarity.rerankTopK(short.join(vecs, "corpus_id")
        .select(col("query_id"), col("corpus_id"), s.exact.as("cos")), k)
    })

  /** Streams `embPath` as incoming queries (vec_id < 8, the same query
    * set as the batch op) against the corpus at the same path. Replay
    * equals [[Similarity.ivfTopK]] over the same spec exactly (the
    * registered stream rows share their batch twins' oracles): the
    * index kernels come from the same [[Similarity.servingKernels]], and
    * the fits are deterministic, so stream and batch books are
    * bit-identical. `tablePrefix` namespaces the per-run index tables
    * so concurrent serving streams in one session can't clobber each
    * other (round-6 ADVICE).
    */
  def ivfTopKStream(spark: SparkSession, embPath: String,
                    outDir: String, checkpointDir: String,
                    spec: IvfSpec = IvfSpec(), k: Int = 10,
                    maxFilesPerTrigger: Option[Int] = None,
                    tablePrefix: String = "graft_ivf_stream"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isQuery = col("vec_id") < 8
    // the batch face's sizing count is the WHOLE table — same here, so
    // stream and batch derive the identical ladder steps
    val s = Similarity.servingKernels(corpus, isQuery, spec, corpus.count())
    val (idxTable, vecsTable) = (s"${tablePrefix}_idx", s"${tablePrefix}_vecs")
    writeIndex(corpus.filter(!isQuery), s, idxTable, vecsTable)
    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isQuery)
    val q = probeIndex(Similarity.vectors(incoming), s, spark.table(idxTable)).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a query's candidates all land in its arrival batch → the
        // batch-local rerank is the complete per-query top-k
        TopicStream.writeBatchIdempotent(
          serveBounded(batch, s, k, spark.table(vecsTable)), batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** ONLINE semantic snapshot delta — the streaming twin of
    * [[Similarity.semanticDelta]] (the embedding-space face of
    * DedupStream.snapshotDeltaStream): new-shard vectors arrive as a
    * stream and each micro-batch classifies against the BASE corpus's
    * nearest-centroid bucket assignment, materialized ONCE as a table
    * bucketed by `bucket` — zero static-side Exchange per trigger, the
    * index shuffle paid at write time. The stream side is stateless
    * (bucket kernel + stream-static LEFT join, so candidate-less
    * vectors survive as novel); the n_cand/best-match window runs in
    * foreachBatch, complete per batch because a vector's candidates
    * never span batches. Replay equals the batch operator exactly
    * (embedding_delta oracle verbatim).
    */
  /** Streaming QUANTIZATION-COLLISION dedup (`stream_pq_dedup`, r15) —
    * the online face of [[Similarity.pqCodeDedup]], in the
    * misAssignStream serving shape: the corpus code-group table
    * ((bucket, codes) → n_same, min-id keeper) is fitted ONCE offline
    * and materialized bucketed by `bucket`; every arriving micro-batch
    * of vectors encodes STATELESSLY (the same fused bucket/code
    * kernels) and probes the group table — zero cross-batch state,
    * batchId-idempotent sink, and a full replay equals the batch
    * operator row for row, so the ORACLE IS SHARED VERBATIM. At 100 TB
    * this is the online dup-check a PQ deployment runs against its own
    * index: per-trigger cost is the batch's own rows × one bucketed
    * lookup, never the corpus.
    */
  def pqCodeDedupStream(spark: SparkSession, embPath: String,
                        outDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        splits: Int = 3,
                        tablePrefix: String = "graft_pq_dedup_stream"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val groupsTable = s"${tablePrefix}_groups"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus).filter(col("nrm") > 0)
        .select(col("vec_id"),
          expr("graft_ivf_bucket(e)").as("bucket"),
          expr("graft_pq_code(e)").as("codes"))
        .groupBy(col("bucket"), col("codes"))
        .agg(count(lit(1)).as("n_same"), min(col("vec_id")).as("rep_id")),
      groupsTable, IndexBuckets, "bucket")

    val splitDir = TopicStream.orderedSplitInput(spark, embPath, splits,
      s"$outDir-input", idCol = "vec_id")
    val incoming = TopicStream.fileStream(spark, splitDir,
      maxFilesPerTrigger = maxFilesPerTrigger.orElse(Some(1)))
    val q = incoming.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val coded = Similarity.vectors(batch).filter(col("nrm") > 0)
          .select(col("vec_id"),
            expr("graft_ivf_bucket(e)").as("bucket"),
            expr("graft_pq_code(e)").as("codes"))
        // the group row always exists (the batch's vectors are corpus
        // members whose codes the fit saw) — an inner join by identity
        TopicStream.writeBatchIdempotent(
          coded.join(spark.table(groupsTable), Seq("bucket", "codes"))
            .select(col("vec_id"), col("bucket"),
              array_join(col("codes"), ",").as("codes_str"),
              col("n_same"), col("rep_id"),
              (col("vec_id") === col("rep_id")).as("keep")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  def semanticDeltaStream(spark: SparkSession, embPath: String,
                          outDir: String, checkpointDir: String,
                          tau: Double = 0.4,
                          maxFilesPerTrigger: Option[Int] = None,
                          tablePrefix: String = "graft_semdelta"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isNew = col("vec_id") % 5 === 4

    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isNew))
        .withColumn("bucket", expr("graft_ivf_bucket(e)"))
        .select(col("vec_id").as("base_id"), col("e").as("eb"),
          col("nrm").as("nb"), col("bucket")),
      idxTable, IndexBuckets, "bucket")
    val baseIndex = spark.table(idxTable)

    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isNew)
    val probed = Similarity.vectors(incoming)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id"), col("e").as("en"), col("nrm").as("nn"), col("bucket"))
    // LEFT join keeps candidate-less vectors in the stream — they are
    // the novel arm, not dropped rows
    val scored = probed.join(baseIndex, Seq("bucket"), "left_outer")
      .withColumn("cos", expr("graft_dot(en, eb)") / (col("nn") * col("nb")))
      .select(col("vec_id"), col("base_id"), col("cos"))

    val q = scored.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy(col("vec_id"))
        val wr = w.orderBy(col("cos").desc_nulls_last, col("base_id"))
        TopicStream.writeBatchIdempotent(
          batch
            .withColumn("n_cand", count(col("base_id")).over(w))
            .withColumn("rk", row_number().over(wr))
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("n_cand"),
              col("base_id").as("best_base"), col("cos").as("best_cos"),
              when(col("cos") >= tau, "near_dup").otherwise("novel")
                .as("verdict")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** One shard's classification against the CURRENT base assignment
    * table — the whole probe runs inside foreachBatch so each batch
    * reads the table state its predecessors advanced. Candidates are
    * deduplicated on (vec_id, base_id) before the window: a replayed
    * append can only duplicate identical assignment rows, and the dedup
    * makes duplicated index rows unable to change n_cand or the best
    * match (the set-shaped-probe rule of the text-side advance).
    *
    * Same-batch replay guard (round-11 ADVICE): a batch retried AFTER
    * its own novel rows were appended (driver retry between append and
    * checkpoint commit) would otherwise find itself in the table —
    * every vector matching itself at cos 1.0, flipping 'novel' to
    * 'near_dup of itself'. The index is anti-joined against the batch's
    * own vec_ids before probing: a no-op on the first run, and on a
    * replay it removes exactly the batch's own appended rows (including
    * same-batch siblings the original classify-then-append order never
    * saw), so replay == first run. The batch side broadcasts; the
    * bucketed static scan stays Exchange-free.
    */
  private[graft] def classifySemanticBatch(spark: SparkSession, batch: DataFrame,
                                    tau: Double, idxTable: String): DataFrame = {
    val ownIds = batch.select(col("vec_id").as("own_id"))
    val idx = spark.table(idxTable).join(broadcast(ownIds),
      col("base_id") === col("own_id"), "left_anti")
    val probed = Similarity.vectors(batch)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id"), col("e").as("en"), col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("vec_id"))
    val wr = w.orderBy(col("cos").desc_nulls_last, col("base_id"))
    probed.join(idx, Seq("bucket"), "left_outer")
      .withColumn("cos", expr("graft_dot(en, eb)") / (col("nn") * col("nb")))
      .select(col("vec_id"), col("base_id"), col("cos"))
      .dropDuplicates("vec_id", "base_id")
      .withColumn("n_cand", count(col("base_id")).over(w))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_cand"),
        col("base_id").as("best_base"), col("cos").as("best_cos"),
        when(col("cos") >= tau, "near_dup").otherwise("novel").as("verdict"))
  }

  /** The base vectors' bucket-assignment rows for `df` — the ONE index
    * the semantic delta maintains (vs the text delta's four).
    */
  private[graft] def assignmentRows(df: DataFrame): DataFrame =
    Similarity.vectors(df)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id").as("base_id"), col("e").as("eb"),
        col("nrm").as("nb"), col("bucket"))

  /** Semantic delta with BASE-INDEX MAINTENANCE — the embedding-space
    * face of [[DedupStream.snapshotDeltaAdvancingStream]]: shard k
    * classifies against base ∪ novel(shards < k), because each
    * micro-batch appends its NOVEL vectors' assignment rows to the
    * bucketed table before the next shard arrives. The advance is
    * derived from the WRITTEN classification (one evaluation — sink and
    * advance can never disagree) and costs the shard's novel rows, never
    * the accumulated corpus. Output adds the shard id (vec_id DIV chunk,
    * the orderedSplitInput offset-range rule — data-derived, so a
    * re-batched replay cannot mislabel). The multi-snapshot replay
    * equals the SEQUENTIAL batch recurrence (spec'd; the registered
    * `stream_embedding_delta_advance` oracle unrolls it in SQL).
    */
  def semanticDeltaAdvancingStream(spark: SparkSession, embPath: String,
                                   outDir: String, checkpointDir: String,
                                   splits: Int = 3,
                                   tau: Double = 0.4,
                                   tablePrefix: String = "graft_semdelta_adv"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isNew = col("vec_id") % 5 === 4
    val chunk = corpus.agg(max(col("vec_id"))).head().getLong(0) / splits + 1
    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(assignmentRows(corpus.filter(!isNew)),
      idxTable, IndexBuckets, "bucket")
    val splitDir = TopicStream.orderedSplitInput(spark, embPath, splits,
      s"$outDir-input", idCol = "vec_id")
    val incoming = TopicStream.fileStream(spark, splitDir,
      maxFilesPerTrigger = Some(1))
    val q = incoming.filter(isNew).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        // refresh on THIS session: foreachBatch frames live in a
        // micro-batch session clone with its own relation cache — the
        // append refreshed the clone's catalog, not the one
        // classifySemanticBatch reads through (the text-advance rule)
        spark.catalog.refreshTable(idxTable)
        TopicStream.writeBatchIdempotent(
          classifySemanticBatch(spark, b, tau, idxTable)
            .withColumn("shard", expr(s"vec_id DIV $chunk")),
          batchId, outDir)
        // advance off the WRITTEN classification
        val novel = b.join(
          spark.read.parquet(s"$outDir/batch_$batchId")
            .filter(col("verdict") === "novel").select(col("vec_id")),
          "vec_id")
        Bucketing.appendBucketed(assignmentRows(novel), idxTable,
          IndexBuckets, "bucket")
        b.unpersist()
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }
}
