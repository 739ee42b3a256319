package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.Tables

/** Partitioning-invariance of the round-4 operators — the SURVEY §5
  * claim behind every oracle hash: integer hashing, banding, PQ coding
  * and (cos, id)-total-ordered reranks must not depend on how the input
  * is split across tasks. (Float SUMS would — these operators avoid
  * order-dependent float aggregation by construction.)
  */
class DeterminismSpec extends SparkSpec {

  private def assertInvariant(name: String, f: DataFrame => DataFrame,
                              base: DataFrame): Unit = {
    val reference = f(base)
    for (parts <- Seq(3, 7)) {
      val alt = f(base.repartition(parts))
      assert(alt.except(reference).count() === 0,
        s"$name: repartition($parts) produced extra rows")
      assert(reference.except(alt).count() === 0,
        s"$name: repartition($parts) lost rows")
    }
  }

  test("simhash pairs, PQ top-k and the minhash clean pipeline are partitioning-invariant") {
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    assertInvariant("dedup_simhash", Dedup.simhashPairs(_), docs)
    assertInvariant("pipeline_clean_corpus_minhash", TextOps.cleanCorpusMinhash(_), docs)
    assertInvariant("pipeline_decontaminate_span",
      TextOps.decontaminateSpans(_, col("doc_id") % 97 === 0), docs)
    assertInvariant("sim_topk_ivf_pq",
      Similarity.ivfTopK(_, col("vec_id") < 8,
        graft.operators.IvfSpec(laddered = false, codes = graft.operators.IvfSpec.PqFormula,
          refine = graft.operators.IvfSpec.Fixed(4))), emb)
  }

  test("round-8 operators are partitioning-invariant: star components, pack " +
      "concatenation, holdout split") {
    val docs = Tables.load(spark, sf, "documents")
    // star contraction: label fixpoint is unique per component, so the
    // iterative loop must land on identical labels under any input split
    assertInvariant("dedup_components_star", Dedup.componentsLogN(_), docs)
    // concatenation: collect_list order is partition-dependent — the
    // array_sort(struct(doc_id, ...)) is what makes the output stable
    assertInvariant("pipeline_concat_packs", TextOps.concatPacks(_), docs)
    assertInvariant("pipeline_split", TextOps.holdoutSplit(_), docs)
  }

  test("round-8 late operators are partitioning-invariant: importance (BIGINT " +
      "sums), span dupes, fuzzy decontamination, int8 quantization") {
    val docs = Tables.load(spark, sf, "documents")
    val emb = Tables.load(spark, sf, "embeddings")
    val isBench = col("doc_id") % 97 === 0
    // the fixed-point design claim: a float log-sum would fail this
    assertInvariant("pipeline_importance", TextOps.importanceWeights(_, isBench), docs)
    assertInvariant("corpus_span_dupes", TextOps.spanDupes(_), docs)
    assertInvariant("pipeline_decontaminate_fuzzy",
      Dedup.decontaminateFuzzy(_, isBench), docs)
    // min/max envelope + identical IEEE tree per element: codes AND the
    // double error column must survive any split
    assertInvariant("embedding_quantize", Similarity.quantizeInt8(_), emb)
  }
}
