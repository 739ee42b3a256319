package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Codebooks
import graft.functions.VectorFunctions._

/** One IVF top-k configuration — every serving row (batch, stream, Cli)
  * and the kNN graph build is one of these. The fields are exactly the
  * axes the registered rows vary on:
  *
  *   - `mips`: cosine, or maximum inner product via the Bachrach
  *     norm-augmentation reduction (RecSys'14: corpus vectors append
  *     sqrt(M² − ‖x‖²) with M the corpus max norm, queries append 0, so
  *     augmented-space cosine order is raw inner-product order);
  *   - `fitted`: the coarse book is the LCG formula book (replayed in
  *     oracle SQL) or a fixed-point spherical k-means fit;
  *   - `laddered`: nlist rides [[Similarity.sizedNlist]] and probes ride
  *     [[Similarity.sizedProbes]] (identity at every gate scale), or the
  *     book is the fixed 64 and the probe count is taken as is;
  *   - `codes`: exact rerank of every probed candidate over full
  *     vectors, or a PQ compact index that scores candidates from codes
  *     and reads full vectors only for a k·refine shortlist;
  *   - `probes`: the base probe count ([[Similarity.probesForRecall]]);
  *   - `refine`: the PQ shortlist width, on the [[Similarity.sizedRefine]]
  *     ladder times a multiplier, or fixed.
  */
final case class IvfSpec(
    mips: Boolean = false,
    fitted: Boolean = false,
    laddered: Boolean = true,
    codes: IvfSpec.Codes = IvfSpec.Full,
    probes: Int = 8,
    refine: IvfSpec.Refine = IvfSpec.Sized(1)) {
  def pq: Boolean = codes != IvfSpec.Full
}

object IvfSpec {
  sealed trait Codes
  case object Full extends Codes
  /** The LCG residual book (8×16 cosine, 5×16 over the augmented MIPS
    * space) — oracle-replayable. */
  case object PqFormula extends Codes
  /** A fixed-point per-subspace residual k-means over the first `sample`
    * vec_ids: `m` subspaces × `k` codes. Against a formula coarse book
    * this is the "resfit" row; against a fitted one the fully-fitted rows.
    */
  final case class PqFitted(m: Int = Codebooks.PqM, k: Int = Codebooks.PqK,
                            sample: Int = 2048) extends Codes {
    require(m >= 1 && Codebooks.Dim % m == 0, s"pq m=$m must divide Dim=${Codebooks.Dim}")
    /** The book's LCG seed rows (base + m·k + code)·Dim + d — one region
      * per (m, k) shape so no two books share generator positions (§5
      * ledger): 400 = 8×16, 30000 = 8×64, 40000 = 16×16, 41000 = 16×64.
      */
    val seedRowBase: Int = (m, k) match {
      case (8, 16) => 400
      case (8, 64) => 30000
      case (16, 16) => 40000
      case (16, 64) => 41000
      case _ => throw new IllegalArgumentException(
        s"pq book ${m}x$k has no LCG seed region (8x16, 8x64, 16x16, 16x64)")
    }
  }

  sealed trait Refine
  /** Shortlist k · sizedRefine(n) · mul. */
  final case class Sized(mul: Int) extends Refine
  /** Shortlist k · width at every corpus size. */
  final case class Fixed(width: Int) extends Refine

  /** The 16-subspace × 64-code fitted book on an 8192-row sample with a
    * ×4 shortlist (r17b): recall@10 0.963 at sf1 / 0.875 at sf10 — the
    * `sim_topk_ivf_pq_fitted_m16` row, its stream twin, `Cli query -q`
    * and the wide book of `pq_error_card`. */
  val M16Book: PqFitted = PqFitted(16, 64, 8192)
  val M16: IvfSpec = IvfSpec(fitted = true, codes = M16Book, refine = Sized(4))
  /** The laddered fully-fitted serving point (coarse k-means + residual
    * book fitted against it): `sim_topk_ivf_pq_fitted_sized`, its stream
    * twin and `Cli query -f`. */
  val FittedPq: IvfSpec = IvfSpec(fitted = true, codes = PqFitted())
  /** MIPS over the fixed-64 formula book with the formula PQ codes:
    * `sim_topk_mips_ivf_pq` and its stream twin. */
  val MipsPq: IvfSpec = IvfSpec(mips = true, laddered = false, codes = PqFormula)
}

/** Embedding similarity operators (SURVEY.md §2c): exact cosine top-k as
  * the baseline, random-hyperplane LSH, IVF coarse quantization and
  * IVF-PQ compact-index refinement as the 100-TB paths.
  *
  * Hyperplane/centroid/PQ coefficients are derived from a fixed integer
  * LCG (graft.functions.Codebooks) whose formulas the DuckDB oracle SQL
  * regenerates in-query, so bucket assignment is bit-identical in both
  * engines. All codebook scoring runs in fused native kernels
  * (graft_plane_buckets / graft_ivf_bucket / graft_ivf_probes /
  * graft_pq_code / graft_pq_score / graft_norm / graft_dot): one JVM
  * call per row with the identical sequential-left-fold arithmetic as
  * the HOF formulation — round 1 measured the interpreted HOF plane dots
  * as the dominant cost of this family (VERDICT "What's wrong" #2).
  */
object Similarity {

  val Dim: Int = Codebooks.Dim
  val NCentroids: Int = Codebooks.NCentroids

  /** Register a temp function only if the session doesn't have it yet —
    * re-registering per call/iteration spams "replaced a previously
    * registered function" warnings into the bench tail (round-4 VERDICT
    * "What's wrong" #4). For STATIC codebooks only (pure functions of
    * their name, e.g. nlist-keyed LCG codebooks); runtime-fitted
    * codebooks go through [[registerFitFunction]] instead.
    */
  private def registerOnce(df: DataFrame, name: String)(
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit = {
    val reg = df.sparkSession.sessionState.functionRegistry
    if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** Monotonic suffix for per-fit function names. Every fit registers its
    * kernels under a FRESH name whose builder closes over that fit's own
    * arrays, so concurrent fits — two threads, or two SparkSessions in
    * one JVM — can never cross-contaminate codebooks (round-5 VERDICT
    * "What's wrong" #4: the previous JVM-global mutable holder was read
    * at analysis time, so a plan analyzed between another fit's holder
    * swap and its query silently used the other fit's centroids). A
    * fresh name never replaces anything, so no warning spam either; the
    * registry grows by a few entries per fit (bounded by fits-per-
    * session — a model-fit cadence, not a per-row one).
    */
  private val fitIds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def registerFitFunction(df: DataFrame, base: String)(
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression): String = {
    val name = s"${base}_${fitIds.incrementAndGet()}"
    df.sparkSession.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
    name
  }

  /** (vec_id, e: array<double>, nrm) — shared normalized-view projection. */
  def vectors(emb: DataFrame): DataFrame = {
    graft.functions.NativeHash.register(emb.sparkSession)
    // NOTE (r17, measured): a spreadScan here was tried and REVERTED —
    // the FIT paths re-evaluate this projection once per k-means round,
    // so the repair exchange re-shipped the fat embedding column every
    // round and the fitted serving rows regressed (+0.25..0.74 s at
    // sf0.1) while the serving-only rows were neutral. The single-split
    // scan cost is fit-bound, not serving-bound; left as-is.
    emb.select(col("vec_id"), toDoubleVec(col("embedding")).as("e"))
      .withColumn("nrm", expr("graft_norm(e)"))
  }

  /** One row per (vector, band): sign-LSH band id + band value from the
    * fused kernel — posexplode evaluates the bucket array exactly once
    * per row (no per-band re-evaluation).
    */
  private def explodeBands(v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      posexplode(expr("graft_plane_buckets(e)")).as(Seq("band_id", "band_val")))

  /** Per-query exact top-k over pre-scored candidates: one window shuffled
    * on query_id. ONLY correct when the candidate set per query is bounded
    * by construction (a micro-batch, a capped probe list) — every
    * corpus-growing candidate set must use [[rerankTopKTwoPhase]]
    * (round-3 VERDICT #3; batch ANN paths all do now).
    */
  private[graft] def rerankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** Two-phase top-k for unbounded candidate sets: a salted local top-k
    * spreads each query over `saltBuckets` reducers (each sees ~1/salt of
    * the corpus), then the global window ranks only saltBuckets×k rows per
    * query. A single-phase window would ship every query's FULL corpus
    * scores to one reducer — the round-1 scale-killer (VERDICT #4).
    * (cos, corpus_id) is a total order, so the result is byte-identical.
    * Candidates must be unique per (query_id, corpus_id): the IVF paths
    * are by construction (see [[servingKernels]]), LSH dedups its bands.
    */
  private[graft] def rerankTopKTwoPhase(scored: DataFrame, k: Int,
                                        saltBuckets: Int = 32): DataFrame = {
    val wLocal = Window.partitionBy(col("query_id"), col("salt"))
      .orderBy(col("cos").desc, col("corpus_id"))
    val wGlobal = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("salt", pmod(hash(col("corpus_id")), lit(saltBuckets)))
      .withColumn("lrnk", row_number().over(wLocal))
      .filter(col("lrnk") <= k)
      .withColumn("rnk", row_number().over(wGlobal))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk"))
  }

  /** Exact-cosine scoring of a candidate list against the vector table:
    * queries broadcast, corpus side shuffles once on corpus_id.
    */
  private def scoreCandidates(cand: DataFrame, v: DataFrame): DataFrame = {
    val vq = v.select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val vc = v.select(col("vec_id").as("corpus_id"), col("e").as("ec"), col("nrm").as("nc"))
    cand.join(broadcast(vq), "query_id").join(vc, "corpus_id")
      .withColumn("cos", expr("graft_dot(eq, ec)") / (col("nq") * col("nc")))
  }

  /** One spec's kernels over one corpus. Column conventions: the index
    * side evaluates `bucket`/`codes` over `ev` (the corpus vector,
    * augmented under MIPS); the probe side evaluates `probes` over a
    * [[vectors]] frame; `approx` reads (eq, bucket, codes) and `exact`
    * reads (eq, nq, ec, nc). `refine` is the shortlist multiplier of k.
    */
  private[graft] final case class Serving(spec: IvfSpec, corpusVec: Column,
                                          bucket: Column, probes: Column,
                                          codes: Column, approx: Column,
                                          exact: Column, refine: Int) {
    /** The MIPS rows name their score column `ip`. */
    def named(df: DataFrame): DataFrame =
      if (spec.mips) df.withColumnRenamed("cos", "ip") else df
  }

  /** The one place an [[IvfSpec]]'s kernels are built: coarse book (LCG
    * formula at the ladder's nlist, or the k-means fit), probe count,
    * PQ book, and the scorers — so batch, stream and Cli land vectors in
    * identical buckets and score them identically. Formula books are
    * pure functions of (metric, nlist, probes) and register once per
    * session under that name; fitted books register under fresh names.
    *
    * `n` is the corpus count the ladders and the fit sample read — the
    * caller's single count (r18 VERDICT #6: every fitted row used to
    * count again inside each fit). It is intentionally per-invocation:
    * a cached count would serve a stale nlist after an append.
    *
    * Candidate uniqueness is settled here, by construction: a corpus
    * vector has exactly one bucket and [[graft.functions.IvfProbes]]
    * emits each bucket at most once, so the probe join yields each
    * (query, candidate) pair once — no IVF path needs a dedup pass.
    */
  private[graft] def servingKernels(emb: DataFrame, isQuery: Column,
                                    spec: IvfSpec, n: Long): Serving = {
    import IvfSpec._
    require(!(spec.mips && spec.codes.isInstanceOf[PqFitted]),
      "fitted PQ books are cosine-only (the MIPS PQ row serves the formula book)")
    val nlist = if (spec.laddered) sizedNlist(n) else NCentroids
    val probes = if (spec.laddered) sizedProbes(spec.probes, n) else spec.probes
    // M = the corpus max norm: a one-row driver maximum, interpolated
    // as the same literal into both engines' arithmetic. IEEE: nrm <= M
    // implies nrm·nrm <= M·M under round-to-nearest, so the sqrt
    // argument is never negative.
    val maxNorm = if (spec.mips)
      vectors(emb).filter(!isQuery).agg(max(col("nrm"))).head().getDouble(0) else 0.0
    def queryVec(e: Column): Column =
      if (spec.mips) concat(e, array(lit(0.0))) else e
    val corpusVec = if (!spec.mips) col("e")
      else concat(col("e"), array(sqrt(lit(maxNorm) * lit(maxNorm) - col("nrm") * col("nrm"))))
    val modulus = sizedKmFitModulus(n)
    val cents: Array[Array[Double]] = (spec.mips, spec.fitted) match {
      case (false, false) => Codebooks.centroidsFor(nlist).map(_.toArray).toArray
      case (true, false) => Codebooks.mipsCentroidsFor(nlist)
      case (false, true) => fitCentroids(emb, nlist, 3, modulus)
      case (true, true) => fitMipsCentroids(emb, isQuery, nlist, maxNorm, modulus)
    }
    val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val tag = if (spec.mips) "mips" else "ivf"
    def kernel(name: String, fresh: Boolean)(
        builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression): String =
      if (fresh) registerFitFunction(emb, s"graft_${tag}_$name")(builder)
      else { registerOnce(emb, s"graft_${tag}_$name")(builder); s"graft_${tag}_$name" }
    val bucketFn = kernel(s"bucket_$nlist", spec.fitted)(
      e => graft.functions.IvfBucket(e.head, cents, cnorms))
    val probesFn = kernel(s"probes_${nlist}_$probes", spec.fitted)(
      e => graft.functions.IvfProbes(e.head, probes, cents, cnorms))
    val pq = spec.codes match {
      case Full => null
      case PqFormula => if (spec.mips) Codebooks.mipsPqCents else Codebooks.pqCents
      // a formula coarse book lives at value scale (LCG/1000): the
      // residual reference is its fp-normalized twin (the resfit row)
      case b: PqFitted => fitPqCodebooks(emb, cents, cnorms, b,
        fpRef = if (spec.fitted) null else Codebooks.fpCentroidsFor(nlist))
    }
    val (codes, approx, refine) =
      if (pq == null) (null, null, 0)
      else {
        val hat = cents.zip(cnorms).map { case (c, nn) => c.map(_ / nn) }
        val fresh = spec.fitted || spec.codes != PqFormula
        val codeFn = kernel(s"pq_code_$nlist", fresh)(
          e => graft.functions.PqCode(e.head, cents, cnorms, hat, pq))
        val scoreFn = kernel(s"pq_score_$nlist", fresh)(
          e => graft.functions.PqScore(e(0), e(1), e(2), hat, pq))
        val r = spec.refine match {
          case Sized(mul) => sizedRefine(n) * mul
          case Fixed(width) => width
        }
        (call_function(codeFn, col("ev")),
          call_function(scoreFn, queryVec(col("eq")), col("bucket"), col("codes")), r)
      }
    val dot = expr("graft_dot(eq, ec)")
    Serving(spec, corpusVec, call_function(bucketFn, col("ev")),
      call_function(probesFn, queryVec(col("e"))), codes, approx,
      if (spec.mips) dot else dot / (col("nq") * col("nc")), refine)
  }

  /** The corpus side of an index over a [[vectors]] frame: (corpus_id,
    * bucket) plus the PQ codes of a PQ spec, or the full vector (ec, nc)
    * otherwise. `ev` is a column of its own so the augmented vector is
    * built once per row for both kernels.
    */
  private[graft] def indexSide(v: DataFrame, s: Serving): DataFrame =
    v.withColumn("ev", s.corpusVec).select(
      Seq(col("vec_id").as("corpus_id"), s.bucket.as("bucket")) ++
        (if (s.spec.pq) Seq(s.codes.as("codes"))
         else Seq(col("e").as("ec"), col("nrm").as("nc"))): _*)

  /** The query side over a [[vectors]] frame: one row per probed bucket. */
  private[graft] def probeSide(v: DataFrame, s: Serving): DataFrame =
    v.select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"),
      explode(s.probes).as("bucket"))

  /** IVF-bucketed ANN top-k — the batch plan of every `sim_topk_*` IVF
    * row. Corpus vectors live in their nearest-centroid bucket (argmax
    * cosine, first-index tie-break); each query probes its top buckets.
    * The candidate set is the probed buckets' population ≈ probes·N/nlist
    * — corpus-growing, so the two-phase salted rerank is mandatory
    * (round-3 VERDICT #3).
    *
    * Full vectors score AT GENERATION: both join sides carry their own
    * vector and only (query_id, corpus_id, score) rows reach an exchange.
    * PQ codes score candidates from (bucket, codes) alone, keep the top
    * k·refine by approximate score, and read full vectors ONLY for that
    * shortlist (bounded by construction, so its exact rerank is
    * single-phase) — at 100 TB the shortlist is the only stage that
    * reads the fat vector table. MIPS rows rank by, and return, the
    * exact RAW inner product `ip` of the original vectors; recall vs the
    * exact [[mipsTopK]] / [[bruteForceTopK]] baselines is swept in
    * SimilaritySpec and RecallSweep.
    */
  def ivfTopK(emb: DataFrame, isQuery: Column, spec: IvfSpec, k: Int = 10): DataFrame =
    ivfTopKAt(emb, isQuery, spec, k, emb.count())

  /** [[ivfTopK]] at an explicit corpus size `n` — the ladders read `n`,
    * so specs can force a big-book rung at toy scale. */
  private[graft] def ivfTopKAt(emb: DataFrame, isQuery: Column, spec: IvfSpec,
                               k: Int, n: Long): DataFrame = {
    val s = servingKernels(emb, isQuery, spec, n)
    val v = vectors(emb)
    val cand = indexSide(v.filter(!isQuery), s)
      .join(broadcast(probeSide(v.filter(isQuery), s)), "bucket")
    s.named(
      if (!spec.pq)
        rerankTopKTwoPhase(cand.select(col("query_id"), col("corpus_id"), s.exact.as("cos")), k)
      else {
        val shortlist = rerankTopKTwoPhase(
          cand.select(col("query_id"), col("corpus_id"), s.approx.as("cos")), k * s.refine)
        val exact = shortlist.select(col("query_id"), col("corpus_id"))
          .join(broadcast(v.filter(isQuery).select(col("vec_id").as("query_id"),
            col("e").as("eq"), col("nrm").as("nq"))), "query_id")
          .join(v.select(col("vec_id").as("corpus_id"), col("e").as("ec"),
            col("nrm").as("nc")), "corpus_id")
          .select(col("query_id"), col("corpus_id"), s.exact.as("cos"))
        rerankTopK(exact, k)
      })
  }

  /** kNN SELF-join over the IVF index — the ANN-graph construction pass
    * (kNN-LM retrieval graphs, SemDeDup neighborhoods, diversity
    * sampling): for EVERY vector, its top-`k` neighbors among the
    * vectors of its probed buckets, itself excluded, exact-cosine
    * scored. Graph-building uses tighter probes (the registered rows
    * run 2) than serving. Formula vs fitted coarse book is the spec's
    * choice: the KnnSkewBench finding was that tight clusters do NOT
    * co-bucket under a random book (382/500 planted spokes probed the
    * hub's bucket at probes=2; 499/500 with the fitted book).
    *
    * Scale shape: total candidates ≈ probes·N²/nlist — with nlist ~ √N
    * that is probes·N^1.5, the accepted ANN-graph cost (the join is
    * bucket-keyed, never all-pairs). Scoring is AT GENERATION (r12):
    * only the 24-byte (query_id, corpus_id, cos) row ever reaches an
    * exchange — the previous enrich-then-score form sorted 4×10⁸ rows ×
    * ~550 B of attached vectors at sf10 (≈ 220 GB of spill). The probe
    * kernel emits each bucket once, so each pair is generated once and
    * the two-phase rerank is the only candidate-sized exchange.
    */
  def knnJoinIvf(emb: DataFrame, spec: IvfSpec, k: Int = 5): DataFrame = {
    require(!spec.mips && !spec.pq, "the kNN graph is a full-vector cosine build")
    val n = emb.count()
    val s = servingKernels(emb, lit(false), spec, n)
    val v = vectors(emb)
    val queries = probeSide(v, s)
    // PRE-EXPLOSION width pin (r12, measured at sf10): the bucket join's
    // input is a few MB of (id, bucket) pairs but its output is
    // probes·N²/nlist candidate rows — AQE sizes exchanges by INPUT
    // bytes, so it coalesces the stage feeding this join to 1-2 tasks
    // and the candidate generation serializes (2 cores busy on 4×10⁸
    // rows, >10 min before the pin; AQE's minPartitionSize floor
    // overrides parallelismFirst on tiny inputs). An explicit
    // repartition-by-num is a shuffle origin AQE never coalesces, so the
    // generating stage keeps its tasks. Off at gate scales.
    val width = if (spec.laddered) sizedCandWidth(n, emb) else 0
    val scored = indexSide(v, s)
      .join(if (width > 0) queries.repartition(width, col("bucket")) else queries, "bucket")
      .filter(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"), s.exact.as("cos"))
    rerankTopKTwoPhase(scored, k)
  }

  /** The N-ADAPTIVE coarse-quantizer size: nlist tracks √N (candidates ≈
    * probes·N²/nlist stay ≈ probes·N^1.5 in the graph build, probes·√N
    * per query in serving). ≤ 4096 vectors keeps the serving default 64
    * and ≤ 65536 keeps the r11 step 128, so every driver-gate scale
    * (500 / 2,000 / 20,000 vectors) produces the IDENTICAL index and
    * the existing oracles hold unchanged. r12 extends the ladder past
    * the old 200-row cap (512 ≤ 1M, 2048 beyond — the big codebooks
    * generate from the fresh 10000.. LCG region, Codebooks.centroidsFor):
    * the sf10 run measured the cap's cost directly — candidates grew
    * N²/200 instead of N^1.5 (4×10⁸ pairs at 200k vectors; 512 cuts
    * that 2.6×). Mirrored verbatim in the oracle's nlsizing CTE (the
    * sizedEstK / sizedSaltBuckets pattern).
    */
  def sizedNlist(n: Long): Int =
    if (n <= 4096) NCentroids else if (n <= 65536) 128
    else if (n <= 1048576) 512 else 2048

  /** The PROBES side of the [[sizedNlist]] ladder (r15 VERDICT #2):
    * nlist riding √N with a FIXED probe count shrinks the probed
    * fraction a decade per decade (8/64 at gate scales → 8/512 at
    * 200k vectors), so recall decays with scale — measured in the r14
    * RecallSweep (sf1 MIPS full-vector ceiling 0.4 vs 0.8 cosine).
    * This holds probes/nlist roughly constant instead: identity at
    * every DuckDB-gated scale (nlist ≤ 128 — plans and oracles
    * unchanged through sf1), and base·(nlist/128) beyond, pinning the
    * probed fraction at the base/128 the largest gated scale already
    * runs. Candidates per query grow back to ≈ (base/128)·N — the
    * price of scale-stable recall; the two-phase salted rerank and the
    * sizedCandWidth pin already absorb exactly that shape. Mirrored
    * verbatim in the oracles' psizing CTEs (derived from nlsizing /
    * mnlsizing, so one static oracle text gates every sf).
    */
  def sizedProbes(base: Int, n: Long): Int = {
    val nl = sizedNlist(n)
    if (nl <= 128) base else base * (nl / 128)
  }

  /** Recall-target policy on the serving/graph probe knob (r16, r15
    * VERDICT #2): the base-probes value that [[sizedProbes]] pins as a
    * FRACTION of the codebook, named by the recall class it buys.
    * Measured (RecallSweep + the KnnSkewBench hub sweep, r15 §7 (d)/(e)
    * evidence): "standard" (8 → fraction 1/16 past the gates) is the
    * registered rows' operating point; "high" (16 → fraction 1/8)
    * recovers the 0.8-recall ceiling class at DOUBLE the candidate
    * cost — candidates per query are (base/128)·N, so the price is
    * linear in the base and the choice is a pure cost/recall dial on
    * the existing ladder (edge layout, kernels and plans unchanged).
    * Callers pass the result as [[IvfSpec]]'s `probes`.
    */
  def probesForRecall(target: String): Int = target match {
    case "standard" => 8
    case "high" => 16
    case other => throw new IllegalArgumentException(
      s"probesForRecall: unknown target '$other' (standard | high)")
  }

  /** Fit-sample cap for the k-means codebook fits (r17): past it the
    * fit passes scan only the deterministic minstd-id sample, m =
    * ⌈n/KmFitCap⌉ (see [[fitCentroids]]). 65,536 keeps every driver
    * gate AND sf1 identity (books bit-identical, oracles unchanged)
    * while the sf10 gate (200k vectors) exercises the SAMPLED fit —
    * m = 4, ~50k fit rows, ≈ 100 rows/centroid at the nl=512 rung. At
    * 10⁹ vectors a 2048-book fits on ~65k rows (~32/centroid) — the
    * floor of the O(k·10¹⁻²)-rows-per-centroid guidance, bought ~1000×
    * fewer fat-column scan bytes per fit pass.
    */
  val KmFitCap = 65536L

  /** The N-adaptive fit modulus (the [[Pca.sizedFitModulus]] pattern):
    * identity through every driver-gate scale and sf1, ⌈n/KmFitCap⌉
    * beyond. Mirrored verbatim in the fit oracles' kfsizing CTE. */
  def sizedKmFitModulus(n: Long): Long =
    if (n <= KmFitCap) 1L else (n + KmFitCap - 1L) / KmFitCap

  /** The deterministic fit-sample predicate (shared shape with
    * Pca.fitFilter): minstd-permuted id ≡ 0 mod m. Products stay ≤
    * (2³¹)·48271 ≈ 2⁴⁷ — no ANSI overflow. */
  private def kmFitFilter(m: Long): Column =
    (((col("vec_id") % 2147483647L) * 48271L) % 2147483647L) % m === 0L

  /** The candidate-stage width pin, N-adaptive like [[sizedNlist]]: off
    * (0) at every gate scale — plans and oracles bit-identical — and the
    * session's shuffle width once the corpus outgrows the 65,536-vector
    * ladder step, where the pre-explosion AQE mis-coalesce starts to
    * bite (sf10 measurement: >580 s serialized on 2 tasks → pinned).
    * Pinning is pure partitioning — every downstream op is
    * partitioning-invariant by design, so answers never change.
    * NOTE (r18, measured): lowering the crossover to 8,192 so the
    * sf0.1 bench (20k vectors, ~6.3M candidates) gets the pin was
    * tried and REJECTED — an in-session rep-major A/B put pin0 AHEAD
    * warm (join 0.91 vs 0.99 s min, pagerank chain 2.14 vs 2.38 s): at
    * this scale the coalesced candidate stage is one task's worth of
    * codegen'd work and the extra exchange only adds. The 65,536 step
    * stands on its sf10 evidence.
    */
  def sizedCandWidth(n: Long, emb: DataFrame): Int =
    if (n <= 65536) 0
    // the EFFECTIVE shuffle width (SQLConf default included) — a literal
    // fallback here would pin library callers on unconfigured sessions to
    // 32 tasks regardless of cluster width (r12 ADVICE)
    else emb.sparkSession.sessionState.conf.numShufflePartitions

  /** The PQ shortlist's N-ADAPTIVE width (r14 — measured, not assumed:
    * the RecallSweep evidence shows recall at a FIXED k·4 shortlist
    * falls ever further below the probe ceiling as bucket population
    * grows — sf1 cosine-PQ 0.11 vs the 0.80 ceiling, still climbing at
    * refine=16 — because the PQ approximation's rank noise scales with
    * the candidates a probe admits, ~N/nlist ≈ √N under the nlist
    * ladder). Same thresholds as [[sizedNlist]], identity 4 at every
    * driver-gate scale (plans and oracles unchanged), doubling per
    * step; mirrored in the PQ oracles' rsizing CTE. The shortlist is
    * still k·refine rows per query — bounded, so the final exact
    * rerank stays legitimately single-phase.
    */
  def sizedRefine(n: Long): Int =
    if (n <= 4096) 4 else if (n <= 65536) 8
    else if (n <= 1048576) 16 else 32

  /** FIXED-POINT spherical k-means over the corpus (the offline codebook
    * fit a real IVF deployment runs) — engine-exact by construction
    * (round-11 VERDICT #1: the previous float fit's partition-ordered
    * mean sums were the only reason the fitted-codebook rows were
    * rows-gated). The whole iteration runs on x̂ = graft_fp_unit(e) —
    * integer-valued fixed-point unit vectors at scale S = 10⁶ — so every
    * step is either exact integer arithmetic or a pinned IEEE shape:
    *
    *   - seed: the LCG integers, fp-normalized (floor(g·S/‖g‖)), from
    *     the LADDERED row regions (Codebooks.fpCentroidsFor — identical
    *     to the r5 seeds at k <= 200, the fresh 10000.. region beyond);
    *   - assignment: argmax of the INTEGER dot x̂·ĉ (first-max tie-break;
    *     the kernel's dot/‖x̂‖ divides every candidate by the same
    *     positive scalar, which cannot reorder or collapse distinct
    *     integer dots — adjacent dots differ by ≥ 1/‖x̂‖ ≈ 10⁻⁶, five
    *     orders above ulp — so it equals the oracle's integer argmax);
    *   - update: component sums are BIGINT (order-free ⇒ exact under any
    *     partitioning), the mean is truncating integer division
    *     (sum/count in Scala == DuckDB's `//`), and the fp-renormalize
    *     is the same floor(m·S/‖m‖) shape;
    *   - empty clusters (and all-zero means) keep their previous
    *     centroid; zero vectors are excluded (no direction to fit).
    *
    * The returned codebook holds the integer-valued fp components
    * (norm ≈ S); every downstream kernel divides by the codebook norm,
    * so serving behavior is identical to unit centroids. The DuckDB
    * oracle unrolls the same recurrence as CTEs (the tokenizer_fit
    * pattern).
    *
    * The fit SAMPLES deterministically by the modulus `m` (r17, r16
    * VERDICT #2): each of the `iters` passes scans only ids with
    * minstd-permuted ((vec_id % 2³¹−1)·48271) % (2³¹−1) ≡ 0 (mod m) —
    * pure integer arithmetic BOTH engines replay (48271 is invertible
    * mod the prime 2³¹−1, so in-range ids map to distinct residues).
    * Callers pass [[sizedKmFitModulus]] of their corpus count: identity
    * (m=1) at every driver-gate scale and sf1, ~KmFitCap fit rows
    * beyond. Bucket ASSIGNMENT (and every serving path) still covers
    * every vector — the fit/score split. Mirrored verbatim in the
    * oracles' kfsizing/vfit CTEs.
    *
    * Overflow headroom: component sums are |x̂ᵢ| ≤ S per row, so BIGINT
    * holds exact sums to ~9·10¹² rows per cluster.
    */
  private[graft] def fitCentroids(emb: DataFrame, k: Int, iters: Int,
                                  m: Long): Array[Array[Double]] = {
    require(k >= 1 && k <= 2048,
      s"k=$k out of range: the LCG seed ladder provides 1..2048 centroids")
    require(m >= 1L, s"fit modulus must be >= 1, got $m")
    // NOTE (r18, measured): spreading/repartitioning this fit frame was
    // tried and REJECTED — the per-round cost is ~0.3 s of JOB overhead
    // at any partition count, not assign compute, so a width repair
    // buys nothing. The sample is ≤ KmFitCap rows BY DESIGN, so the
    // recurrence runs DRIVER-LOCAL on one collected sample.
    val base = vectors(emb)
    val v = (if (m > 1L) base.filter(kmFitFilter(m)) else base)
      .withColumn("xh", expr("graft_fp_unit(e)"))
      .filter(col("xh").isNotNull)
      .select(col("xh"))
    fitLoopLocal(v, Codebooks.fpCentroidsFor(k), Dim, iters)
  }

  /** DRIVER-LOCAL twin of [[fitLoopDistributed]] (r18, guide §1.2 —
    * fewer passes/jobs): the fit sample is ≤ [[KmFitCap]] rows BY
    * CONSTRUCTION (the N-adaptive modulus), i.e. model-sized at every
    * corpus scale, so the recurrence collects it ONCE (~32 MB ceiling:
    * KmFitCap × 65 fp doubles) and iterates locally — 1 Spark job
    * instead of 1 + iters (each distributed round cost ~0.3 s of pure
    * job overhead at ANY partition count; the whole local fit runs in
    * the time one round took).
    *
    * Bit-equality with the distributed form (spec'd in SimilaritySpec):
    * assignment calls the IDENTICAL [[graft.functions.VectorNativeImpl.ivfBucket]]
    * kernel over UnsafeArrayData-wrapped rows; per-bucket count/sum are
    * exact longs (order-free under any threading), and the truncating
    * division + fpNormalize are shared verbatim. Thread partials merge
    * in fixed (thread, bucket, dim) order — determinism does not depend
    * on scheduling. Failures are loud: a row of the wrong width is
    * rejected before any thread starts, and a worker's exception is
    * rethrown after the join instead of merging its partial sums.
    */
  private[graft] def fitLoopLocal(v: DataFrame, seeds: Array[Array[Double]],
                                  dim: Int, iters: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val rows: Array[org.apache.spark.sql.catalyst.util.ArrayData] =
      v.collect().map { r =>
        val a = r.getSeq[Double](0).toArray
        require(a.length == dim, s"fitLoopLocal: a row has ${a.length} dims, expected $dim")
        UnsafeArrayData.fromPrimitiveArray(a)
      }
    var cents = seeds
    val k = seeds.length
    val ones = Array.fill(k)(1.0)
    val nThreads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), rows.length / 2048 + 1))
    for (_ <- 0 until iters) {
      val cur = cents
      val partCnt = Array.ofDim[Long](nThreads, k)
      val partSum = Array.ofDim[Long](nThreads, k, dim)
      val failures = new Array[Throwable](nThreads)
      val threads = (0 until nThreads).map { t =>
        val th = new Thread(() => try {
          val cnt = partCnt(t); val sm = partSum(t)
          var i = t // strided split — balanced, no chunk arithmetic
          while (i < rows.length) {
            val row = rows(i)
            val b = graft.functions.VectorNativeImpl.ivfBucket(row, cur, ones) - 1
            if (b >= 0 && b < k) {
              cnt(b) += 1
              val s = sm(b)
              var d = 0
              // fixed-point doubles hold exact integer values; toLong
              // truncates exactly like the distributed cast("long")
              while (d < dim) { s(d) += row.getDouble(d).toLong; d += 1 }
            }
            i += nThreads
          }
        } catch { case e: Throwable => failures(t) = e })
        th.setDaemon(true); th.start(); th
      }
      threads.foreach(_.join())
      failures.find(_ != null).foreach(e => throw e)
      val next = cur.map(_.clone())
      var b = 0
      while (b < k) {
        var c = 0L
        var t = 0
        while (t < nThreads) { c += partCnt(t)(b); t += 1 }
        if (c > 0L) {
          val m = Array.tabulate(dim) { d =>
            var s = 0L
            var t2 = 0
            while (t2 < nThreads) { s += partSum(t2)(b)(d); t2 += 1 }
            // truncating long division — DuckDB's `//` semantics
            (s / c).toDouble
          }
          val norm = Codebooks.fpNormalize(m)
          if (norm != null) next(b) = norm
        }
        b += 1
      }
      cents = next
    }
    cents
  }

  /** The DISTRIBUTED fixed-point k-means recurrence over an `xh` frame —
    * the spec twin [[fitLoopLocal]] is pinned bit-equal against
    * (SimilaritySpec); kept as the shape a beyond-driver-memory sample
    * would need, and as the executable documentation of the arithmetic
    * the oracles' unrolled fit CTEs replay.
    */
  private[graft] def fitLoopDistributed(emb: DataFrame, v: DataFrame,
                      seeds: Array[Array[Double]], dim: Int, iters: Int,
                      registerBase: String): Array[Array[Double]] = {
    var cents = seeds
    val k = seeds.length
    val ones = Array.fill(k)(1.0)
    // per-FIT assignment function over a per-fit holder: the builder
    // runs at analysis of each iteration's query and reads THIS fit's
    // current generation — another fit running concurrently has its own
    // name + holder, so generations never mix
    val gen = new java.util.concurrent.atomic.AtomicReference(cents)
    val assignName = registerFitFunction(emb, registerBase)(
      exprs => graft.functions.IvfBucket(exprs.head, gen.get(), ones))
    for (_ <- 0 until iters) {
      gen.set(cents)
      val sums = v
        .withColumn("bucket", call_function(assignName, col("xh")).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          (0 until dim).map(i =>
            sum(element_at(col("xh"), i + 1).cast("long")).as(s"m$i")): _*)
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        val b = r.getLong(0).toInt - 1
        if (b >= 0 && b < k) {
          val cnt = r.getLong(1)
          // truncating long division — DuckDB's `//` semantics
          val m = Array.tabulate(dim)(i => (r.getLong(i + 2) / cnt).toDouble)
          val norm = Codebooks.fpNormalize(m)
          if (norm != null) next(b) = norm
        }
      }
      cents = next
    }
    cents
  }

  /** FIXED-POINT k-means over the AUGMENTED (Dim+1)-dim MIPS space (r15
    * VERDICT #6): the [[fitCentroids]] recurrence run on the Bachrach
    * reduction's vectors (corpus rows append sqrt(M²−‖x‖²) for the
    * corpus max norm `maxNorm`, queries a 0 — the exact serving
    * augmentation, so the fitted clusters match the geometry the index
    * serves), seeded from the laddered MIPS LCG regions
    * (fpMipsCentroidsFor — the rows-600 integers at k <= 64, the fresh
    * 20000.. region beyond). Engine-exact end to end, so the fitted
    * book unrolls as DuckDB CTEs and the serving row full-hash-gates.
    * The fit sample is the [[fitCentroids]] modulus sample; the
    * max-norm scan and bucket ASSIGNMENT still cover every vector.
    */
  private[graft] def fitMipsCentroids(emb: DataFrame, isQuery: Column, k: Int,
                                      maxNorm: Double, m: Long): Array[Array[Double]] = {
    val v0 = vectors(emb)
    val base = if (m > 1L) v0.filter(kmFitFilter(m)) else v0
    val va = base.withColumn("ea",
        when(isQuery, concat(col("e"), array(lit(0.0))))
          .otherwise(concat(col("e"),
            array(sqrt(lit(maxNorm) * lit(maxNorm) - col("nrm") * col("nrm"))))))
      .withColumn("xh", expr("graft_fp_unit(ea)"))
      .filter(col("xh").isNotNull)
      .select(col("xh"))
    fitLoopLocal(va, Codebooks.fpMipsCentroidsFor(k), Dim + 1, iters = 3)
  }

  /** Offline PQ residual sub-codebook fit — the data-derived twin of the
    * LCG [[graft.functions.Codebooks.pqCents]] (round-4 VERDICT #6), in
    * FIXED POINT (round-11 VERDICT #1): per subspace, plain L2 k-means
    * (`book.k` codes, first-min assignment, empty codes keep their
    * previous center) over the INTEGER residual subvectors x̂ − ĉfp_b
    * (both sides fixed-point at scale S = 10⁶, so residuals, distances,
    * sums and the truncating-division means are all exact integers —
    * order-free, engine-exact, and replayable as unrolled DuckDB CTEs).
    * The coarse bucket b is the SERVING assignment (IvfBucket over the
    * raw e with `cents`). Seeds are the LCG integers at the PQ value
    * scale (·S/4000 = ·250, exact) from the book's own region
    * ([[IvfSpec.PqFitted.seedRowBase]]; the seed row (base + m·k +
    * code)·Dim + d never collides within a region either, d < sub ≤
    * Dim). Returns value-space doubles (fp/S) so the serving kernels
    * plug them in unchanged.
    *
    * The sample (first `book.sample` vec_ids, collected) is fitting a
    * MODEL: codebook quality needs O(k·10²) residuals per subspace, not
    * all N — the r17 sf10 finding was that a K=64 book OVERFITS a
    * 2048-row sample, hence the m16 book's 8192 rows (128 rows/cell,
    * the narrow book's density).
    *
    * `fpRef`: the fp-scale residual reference when `cents` is NOT
    * already fp-valued — the laddered FORMULA books live at value scale
    * (LCG/1000), so the residual subtraction needs their fp-normalized
    * twin while ASSIGNMENT stays on the value book. null (fitted coarse
    * books, which ARE fp-valued) keeps `cents` as both.
    */
  private[graft] def fitPqCodebooks(emb: DataFrame, cents: Array[Array[Double]],
                                    cnorms: Array[Double], book: IvfSpec.PqFitted,
                                    fpRef: Array[Array[Double]] = null,
                                    iters: Int = 5): Array[Array[Array[Double]]] = {
    val pqM = book.m
    val pqK = book.k
    val pqSub = Dim / pqM
    val S = graft.functions.VectorNativeImpl.FpScale
    val ref = if (fpRef == null) cents else fpRef
    val bucketName = registerFitFunction(emb, "graft_pqfit_assign")(
      exprs => graft.functions.IvfBucket(exprs.head, cents, cnorms))
    // NOTE (r18, measured): a spread here was tried and REJECTED with
    // the fitCentroids layout variants (the sample stage is
    // job-overhead-bound at these row counts — an exchange only adds)
    val sample = vectors(emb)
      .withColumn("xh", expr("graft_fp_unit(e)"))
      .filter(col("xh").isNotNull)
      .select(col("vec_id"), col("xh"),
        call_function(bucketName, col("e")).as("b"))
      .orderBy(col("vec_id")).limit(book.sample)
      .collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getInt(2) - 1))
    // integer residuals per sample vector: x̂ − ĉfp_b, componentwise
    val residuals = sample.map { case (xh, b) =>
      Array.tabulate(xh.length)(i => xh(i).toLong - ref(b)(i).toLong)
    }
    Array.tabulate(pqM) { m =>
      val sub = residuals.map(r =>
        java.util.Arrays.copyOfRange(r, m * pqSub, (m + 1) * pqSub))
      // LCG seed at the PQ scale: value/4000 in unit space = raw·250 fp
      var codes: Array[Array[Long]] = Array.tabulate(pqK, pqSub)((k, d) =>
        ((1103515245L * ((book.seedRowBase + m * pqK + k).toLong * Dim + d) + 12345L) % 2001L - 1000L) * 250L)
      for (_ <- 0 until iters) {
        val sums = Array.fill(pqK, pqSub)(0L)
        val counts = new Array[Long](pqK)
        sub.foreach { r =>
          var best = 0
          var bestD = Long.MaxValue
          var kk = 0
          while (kk < pqK) {
            var s = 0L
            var d = 0
            while (d < pqSub) { val diff = r(d) - codes(kk)(d); s += diff * diff; d += 1 }
            if (s < bestD) { bestD = s; best = kk } // strict < = first-min
            kk += 1
          }
          counts(best) += 1
          var d = 0
          while (d < pqSub) { sums(best)(d) += r(d); d += 1 }
        }
        codes = Array.tabulate(pqK)(kk =>
          if (counts(kk) == 0) codes(kk)
          // truncating long division — DuckDB's `//` semantics
          else Array.tabulate(pqSub)(d => sums(kk)(d) / counts(kk)))
      }
      codes.map(_.map(_.toDouble / S))
    }
  }

  /** PQ QUANTIZATION-ERROR decision card (r17b) — the number a
    * deployment reads before picking a residual book: for EACH
    * registered book shape (the narrow 8×16 default and the
    * [[IvfSpec.M16]] serving book), every vector's total squared
    * reconstruction error Σ_m min_k ‖r_m − pq_m[k]‖² against the SHARED
    * laddered coarse fit, reduced to one row per book — vector count,
    * the exact error sum (fixed-point 10⁶ per vector, aggregated in
    * DECIMAL(38,0) so 10⁹⁺ vectors cannot overflow; the fp grid is
    * COARSE by design so an ulp-level engine divergence cannot flip a
    * trunc boundary — r18, the 10¹² card broke hash on the driver box),
    * the max, and a three-band error histogram (err < 0.1 / < 0.5 /
    * ≥ 0.5 — integer counts, order-free). MSE and recall can DISAGREE
    * (the resfit book halved MSE and halved recall), so the card pairs
    * with RecallSweep rather than replacing it. Scan-shaped: one fused
    * kernel call per (vector, book), a single aggregate.
    */
  def pqErrorCard(emb: DataFrame): DataFrame = {
    val n = emb.count()
    val cents = fitCentroids(emb, sizedNlist(n), 3, sizedKmFitModulus(n))
    val cnorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
    val hat = cents.zip(cnorms).map { case (c, nn) => c.map(_ / nn) }
    def bookRow(label: String, book: IvfSpec.PqFitted): DataFrame = {
      val pq = fitPqCodebooks(emb, cents, cnorms, book)
      val errName = registerFitFunction(emb, s"graft_pq_error_$label")(
        exprs => graft.functions.PqError(exprs.head, cents, cnorms, hat, pq))
      vectors(emb)
        .select(call_function(errName, col("e")).as("err_fp"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("err_fp").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("sum_err_fp"),
          max(col("err_fp")).as("max_err_fp"),
          sum(when(col("err_fp") < 100000L, 1L).otherwise(0L)).as("n_err_lo"),
          sum(when(col("err_fp") >= 100000L && col("err_fp") < 500000L, 1L)
            .otherwise(0L)).as("n_err_mid"),
          sum(when(col("err_fp") >= 500000L, 1L).otherwise(0L)).as("n_err_hi"))
        .select(lit(label).as("book"), col("n_vecs"), col("sum_err_fp"),
          col("max_err_fp"), col("n_err_lo"), col("n_err_mid"), col("n_err_hi"))
    }
    bookRow("narrow", IvfSpec.PqFitted()).unionAll(bookRow("m16", IvfSpec.M16Book))
      .orderBy(col("book"))
  }

  /** Cosine near-dup pairs: banded-LSH candidates, exact cosine verify.
    * The candidate join keys on (band_id, band_val); the quadratic part is
    * confined to per-bucket populations.
    */
  /** Per-label embedding data card — the sanity report an embedding
    * table gets before anyone indexes it: vector counts, dimension
    * min/max (a ragged dim would silently break every fused kernel),
    * norm range, and zero-vector count (cosine is undefined on them).
    * Norms come from the fused index-order fold (graft_norm) so the
    * doubles are engine-exact; per-label stats are COUNT/MIN/MAX
    * selections, never float accumulations.
    */
  def embeddingStats(emb: DataFrame): DataFrame = {
    graft.functions.NativeHash.register(emb.sparkSession)
    emb.select(col("label"), size(col("embedding")).as("dim"),
        toDoubleVec(col("embedding")).as("e"))
      .withColumn("nrm", expr("graft_norm(e)"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("dim")).as("min_dim"), max(col("dim")).as("max_dim"),
        min(col("nrm")).as("min_norm"), max(col("nrm")).as("max_norm"),
        sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"))
      .orderBy(col("label"))
  }

  /** Int8 scalar quantization of the embedding table — the
    * serving/storage-prep step next to PQ on the compression menu: per
    * dimension, code = floor((x − mn)/(mx − mn)·255) against the
    * corpus-wide per-dim [mn, mx] envelope, clamped to [0, 255]
    * (degenerate mn = mx dims code 0). `max_abs_err` audits the
    * round-trip against the midpoint reconstruction mn + (c+0.5)·(mx −
    * mn)/255 — encode and decode share the 255 scale, so the error is
    * bounded by half a step of the widest dim, span/510 (spec) — the
    * number a deployment reads before switching serving to codes.
    *
    * The fit is a 64-row per-dim min/max — constant-size at any corpus
    * scale — collected once on the driver (the k-means-fit precedent)
    * and baked into the scoring expression as literal arrays, so
    * scoring is a NARROW map: zero shuffle, scan speed, and the
    * lambda's array lookups hit foldable literals (never the
    * interpreted recompute-per-element trap of computed arrays).
    * Engine-exact: min/max are selections of stored doubles, and both
    * engines evaluate the identical IEEE expression tree, so codes AND
    * the double error column hash-match.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val stats = emb
      .select(posexplode(toDoubleVec(col("embedding"))).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("d").collect()
    require(stats.length == Dim, s"quantizeInt8: expected $Dim dims, got ${stats.length}")
    val mnA = array(stats.map(r => lit(r.getDouble(1))): _*)
    val mxA = array(stats.map(r => lit(r.getDouble(2))): _*)
    val qs = transform(toDoubleVec(col("embedding")), (x, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      val code = when(mx === mn, lit(0L)).otherwise(
        least(lit(255L), greatest(lit(0L),
          floor((x - mn) / (mx - mn) * lit(255.0)))))
      val recon = mn + (code.cast("double") + lit(0.5)) * (mx - mn) / lit(255.0)
      struct(code.as("c"), abs(x - recon).as("err"))
    })
    // codes ride as one comma-joined string: the verify harness hashes
    // scalar columns, and a 64-byte code row serializes naturally anyway
    emb.select(col("vec_id"), qs.as("qs"))
      .select(col("vec_id"),
        array_join(transform(col("qs"), s => s.getField("c").cast("string")), ",")
          .as("codes"),
        array_max(transform(col("qs"), s => s.getField("err"))).as("max_abs_err"))
  }

  def embeddingPairs(emb: DataFrame, tau: Double = 0.4): DataFrame = {
    val v = vectors(emb)
    val ex = explodeBands(v)
    val a = ex.alias("a")
    val b = ex.alias("b")
    val cand = a.join(b,
        col("a.band_id") === col("b.band_id") && col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val va = v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"))
    val vb = v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — "dedup within k-means clusters"): candidates are
    * confined to each vector's coarse CLUSTER (nearest-centroid IVF
    * bucket, the same assignment kernel as [[ivfTopK]]) instead of LSH
    * bands, then exact cosine ≥ tau verifies. Complements
    * [[embeddingPairs]]: banding trades recall per band count, cluster
    * confinement trades it structurally — pairs crossing cluster
    * boundaries are deliberately out of scope (the SemDeDup design). At
    * 100 TB the bucket is the shuffle key, per-bucket population
    * ≈ N/nlist with nlist sized ~√N, and each vector carries ONE bucket
    * (vs `bands` rows for banded LSH) so the candidate index is the
    * smallest of the near-dup family.
    */
  def semanticPairs(emb: DataFrame, tau: Double = 0.4): DataFrame = {
    val v = vectors(emb)
    val assigned = v.select(col("vec_id"), expr("graft_ivf_bucket(e)").as("bucket"))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    // one bucket per vector ⇒ each candidate pair arises exactly once (no
    // distinct needed, unlike the multi-band candidate joins)
    val cand = a.join(b,
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val va = v.select(col("vec_id").as("vec_a"), col("e").as("ea"), col("nrm").as("na"))
    val vb = v.select(col("vec_id").as("vec_b"), col("e").as("eb"), col("nrm").as("nb"))
    cand.join(va, "vec_a").join(vb, "vec_b")
      .withColumn("cos", expr("graft_dot(ea, eb)") / (col("na") * col("nb")))
      .filter(col("cos") >= tau)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** SEMANTIC snapshot delta — the embedding-space face of
    * [[graft.operators.Dedup.snapshotDelta]]'s recurring-ingestion
    * workflow (SemDeDup-on-ingest): each NEW-shard vector is classified
    * against the BASE corpus as near_dup (best same-cluster base match
    * with exact cosine ≥ tau, ranked cos DESC / base_id ASC) or novel.
    * Candidates are confined to the vector's nearest-centroid IVF bucket
    * — [[semanticPairs]]'s cluster confinement made ASYMMETRIC: the new
    * shard probes the base assignment, and is NEVER self-joined (new-vs-
    * new duplicates are the NEXT ingest's problem, exactly as in the
    * text-side delta).
    *
    * Scale shape: per-ingest cost tracks |shard| × the probed bucket's
    * base population (≈ N/nlist), never |base|²; the base assignment
    * table is the once-materialized bucket index a deployment keeps
    * (bucketed by `bucket`, the shuffle key) and the snapshot-advance
    * step is an append of the novel vectors' assignment rows — the
    * DedupStream.snapshotDeltaAdvancingStream recurrence, unchanged.
    * One vec_id window carries n_cand AND the best-match rank (a single
    * exchange); the final enrich joins ride the 8-byte vec_id.
    */
  def semanticDelta(emb: DataFrame, isNew: Column, tau: Double = 0.4): DataFrame = {
    val v = vectors(emb)
    val assigned = v.select(col("vec_id"), expr("graft_ivf_bucket(e)").as("bucket"))
    val cand = assigned.filter(isNew)
      .join(assigned.filter(!isNew)
        .select(col("vec_id").as("base_id"), col("bucket")), "bucket")
      .select(col("vec_id"), col("base_id"))
    val vn = v.select(col("vec_id"), col("e").as("en"), col("nrm").as("nn"))
    val vb = v.select(col("vec_id").as("base_id"), col("e").as("eb"), col("nrm").as("nb"))
    val w = Window.partitionBy("vec_id")
    val best = cand.join(vn, "vec_id").join(vb, "base_id")
      .withColumn("cos", expr("graft_dot(en, eb)") / (col("nn") * col("nb")))
      .withColumn("n_cand", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(w.orderBy(col("cos").desc, col("base_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_cand"), col("base_id").as("best_base"),
        col("cos").as("best_cos"))
    v.filter(isNew).select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        col("best_base"), col("best_cos"),
        when(col("best_cos") >= tau, "near_dup").otherwise("novel").as("verdict"))
  }

  /** Embedding-space benchmark decontamination — the semantic twin of
    * [[graft.operators.Dedup.decontaminateFuzzy]] (SemDeDup precedent:
    * Abbas et al., arXiv:2303.09540). A PARAPHRASED eval leak keeps its
    * embedding neighborhood while sharing no 8-word span and few
    * shingles, so the n-gram decontaminators miss it entirely; here
    * eval-set vectors are sign-LSH banded and BROADCAST (an eval suite
    * is thousands of vectors, never corpus-scale), corpus vectors probe
    * the band index, and each banded candidate is verified with the
    * exact cosine. Per corpus vector: candidate count, the best eval
    * match by (cos DESC, eval_id ASC — deterministic), and the verdict
    * at `tau`.
    *
    * Scale shape: the corpus is never self-joined and never shuffles
    * embeddings to other corpus rows — candidates are corpus×eval only,
    * band-bounded; n_cand and the best match share ONE vec_id window
    * exchange; the final enrich join is on the 8-byte vec_id. Recall
    * follows the sign-LSH band geometry (scale-invariant, so a
    * same-direction paraphrase vector always collides in every band).
    */
  def decontaminateSemantic(emb: DataFrame, isEval: Column, tau: Double = 0.4): DataFrame = {
    val v = vectors(emb)
    val ex = explodeBands(v)
    val evalB = ex.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("band_id"), col("band_val"))
    val cand = ex.filter(!isEval)
      .join(broadcast(evalB), Seq("band_id", "band_val"))
      .select(col("vec_id"), col("eval_id")).distinct()
    val vc = v.select(col("vec_id"), col("e").as("ec"), col("nrm").as("nc"))
    val ve = v.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("e").as("ee"), col("nrm").as("ne"))
    val w = Window.partitionBy("vec_id")
    val best = cand.join(vc, "vec_id").join(broadcast(ve), "eval_id")
      .withColumn("cos", expr("graft_dot(ec, ee)") / (col("nc") * col("ne")))
      .withColumn("n_cand", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(w.orderBy(col("cos").desc, col("eval_id"))))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_cand"), col("eval_id").as("best_eval"),
        col("cos").as("best_cos"))
    v.filter(!isEval).select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("n_cand", coalesce(col("n_cand"), lit(0L)))
      .withColumn("contaminated", coalesce(col("best_cos") >= tau, lit(false)))
  }

  /** Exact cosine top-k: broadcast the (small) query set against the
    * corpus — one narrow pass over the corpus, then the two-phase rerank
    * (per-query work is the full corpus, so the local phase is mandatory
    * at scale).
    */
  def bruteForceTopK(emb: DataFrame, isQuery: Column, k: Int = 10): DataFrame = {
    val v = vectors(emb)
    val q = v.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"))
    val c = v.filter(!isQuery)
      .select(col("vec_id").as("corpus_id"), col("e").as("ec"), col("nrm").as("nc"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", expr("graft_dot(eq, ec)") / (col("nq") * col("nc")))
    rerankTopKTwoPhase(scored, k)
  }

  /** Maximum-inner-product search (MIPS) — retrieval where the MAGNITUDE
    * is the signal (recommender user·item scores, reward models,
    * un-normalized retrieval heads): exact top-k by RAW dot product,
    * queries broadcast, same two-phase salted rerank as the cosine
    * baseline. Cosine ANN deliberately throws ‖x‖ away; when that is
    * wrong, this is the exact baseline. The scale path is the classic
    * norm-augmentation reduction (Bachrach et al., RecSys'14): append
    * sqrt(M²−‖x‖²) to each corpus vector (M = max norm), a zero to each
    * query, and MIPS becomes cosine ANN — every bucketed index in this
    * file (LSH/IVF/IVF-PQ) then applies unchanged over the augmented
    * vectors; this operator is what those reductions get recall-checked
    * against.
    */
  def mipsTopK(emb: DataFrame, isQuery: Column, k: Int = 10): DataFrame = {
    val v = vectors(emb)
    val q = v.filter(isQuery).select(col("vec_id").as("query_id"), col("e").as("eq"))
    val c = v.filter(!isQuery).select(col("vec_id").as("corpus_id"), col("e").as("ec"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", expr("graft_dot(eq, ec)"))
    rerankTopKTwoPhase(scored, k).withColumnRenamed("cos", "ip")
  }

  /** QUANTIZATION-COLLISION dedup (r15): vectors whose PQ encodings
    * collide — same coarse bucket AND all 8 residual codes — are
    * indistinguishable to the compact index, which makes code identity
    * a zero-vector-read near-dup signal: the candidate table IS the
    * dedup input, no vector ever re-read, no pair join at all. Groups
    * are exact-match on a ~12-byte key, so the whole operator is ONE
    * map-side-combinable hash aggregate on (bucket, codes) plus the
    * keyed join-back — the cheapest semantic-ish dedup a PQ deployment
    * gets for free from its own index (coarser than cos-threshold
    * SemDeDup: a collision implies the residual landed in the same
    * cell of every subspace). Zero vectors have no direction to encode
    * and are out of domain (the knnSemDeDup convention). `codes_str`
    * packs the code array for the scalar-column hash gate
    * (array_join == array_to_string, the §6 rule).
    */
  def pqCodeDedup(emb: DataFrame): DataFrame = {
    val v = vectors(emb).filter(col("nrm") > 0)
    val coded = v.select(col("vec_id"),
      expr("graft_ivf_bucket(e)").as("bucket"),
      expr("graft_pq_code(e)").as("codes"))
    val groups = coded.groupBy(col("bucket"), col("codes"))
      .agg(count(lit(1)).as("n_same"), min(col("vec_id")).as("rep_id"))
    coded.join(groups, Seq("bucket", "codes"))
      .select(col("vec_id"), col("bucket"),
        array_join(col("codes"), ",").as("codes_str"),
        col("n_same"), col("rep_id"),
        (col("vec_id") === col("rep_id")).as("keep"))
  }

  /** LSH-bucketed ANN: queries and corpus hash into the same sign buckets;
    * only same-bucket candidates are scored and ranked. Recall vs the
    * brute-force baseline is asserted in the spec.
    */
  def lshTopK(emb: DataFrame, isQuery: Column, k: Int = 10): DataFrame = {
    val v = vectors(emb)
    val q = explodeBands(v.filter(isQuery))
      .select(col("vec_id").as("query_id"), col("band_id"), col("band_val"))
    val c = explodeBands(v.filter(!isQuery))
      .select(col("vec_id").as("corpus_id"), col("band_id"), col("band_val"))
    val cand = c.join(broadcast(q), Seq("band_id", "band_val"))
      .select(col("query_id"), col("corpus_id"))
      .distinct()
    // same-bucket population is ~N/2^PlanesPerBand per band — grows with
    // the corpus, so the two-phase rerank applies here too (VERDICT #3)
    rerankTopKTwoPhase(scoreCandidates(cand, v), k)
  }
}
