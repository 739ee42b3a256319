package graft

import org.apache.spark.sql.functions._

import graft.functions.NativeHash

/** Edge-case behavior of the native expressions (null propagation, empty
  * and short inputs) — the paths the corpus-driven specs never hit.
  */
class NativeHashSpec extends SparkSpec {

  private def df = {
    NativeHash.register(spark)
    spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'a b c d'), (2L, ''), (3L, 'one two'), (4L, CAST(NULL AS STRING))
        |AS t(id, text)""".stripMargin)
  }

  test("shingle hashes: null text -> null, short/empty text -> empty array") {
    val out = df.select(col("id"), expr("graft_shingle_hashes(text)").as("hs"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
      .toMap
    assert(out(4L) == null)
    assert(out(2L).isEmpty)
    assert(out(3L).isEmpty) // 2 words < 3-gram
    assert(out(1L).size === 2)
  }

  test("simhash/min-gram/lang-scores/text-stats propagate null and handle empties") {
    val out = df.select(col("id"),
      expr("graft_simhash32(graft_shingle_hashes(text))").as("sh"),
      expr("graft_min_gram_hash(text, 8)").as("mg"),
      expr("graft_lang_scores(text)").as("ls"),
      expr("graft_text_stats(text)").as("ts"),
      expr("graft_rep_stats(text)").as("rs"))
    val r4 = out.filter(col("id") === 4).head()
    assert((1 to 5).forall(r4.isNullAt))
    val r2 = out.filter(col("id") === 2).head()
    assert(r2.getLong(1) === 0L) // empty shingle set -> all-zero votes
    assert(r2.getLong(2) === 0L) // polyhash('') = 0
    assert(r2.getSeq[Long](3).forall(_ === 0L))
    // empty text: split('') = [''] — 1 token, 1 uniq, no 2/3-grams, max 1
    // (exactly string_split_regex('', '\s+') in the oracle's dialect)
    assert(r2.getSeq[Long](5) === Seq(1L, 1L, 0L, 0L, 1L))
  }

  test("text kernels fold codepoints: parity with HOF twins beyond ASCII (round-2 ADVICE)") {
    NativeHash.register(spark)
    // é (BMP non-ASCII), 😀 (supplementary — a surrogate pair in UTF-16),
    // CJK ext B 𠀀; parity must hold per CODEPOINT, not per UTF-16 unit
    val t = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'héllo wörld café naïve über résumé'),
        |  (2L, 'a😀b c😀d e😀f g😀h'),
        |  (3L, '𠀀𠀁𠀂 𠀃𠀄 mixed ascii tail here'),
        |  (4L, 'plain ascii control row one two three')
        |AS t(id, text)""".stripMargin)
    import graft.functions.TextFunctions
    val whHof = transform(TextFunctions.words(col("text")), w => TextFunctions.polyhash(w))
    val rows = t.select(
      expr("graft_shingle_hashes(text)").as("kh"),
      TextFunctions.combineShingles3(whHof).as("hh"),
      expr("graft_min_gram_hash(text, 4)").as("km"),
      expr("graft_text_stats(text)").as("ks"),
      array(size(TextFunctions.words(col("text"))).cast("long"),
        aggregate(TextFunctions.words(col("text")), lit(0L),
          (s, w) => s + length(w).cast("long"))).as("hs"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1), "shingle hashes must match HOF")
      val ks = r.getSeq[Long](3)
      val hs = r.getSeq[Long](4)
      assert(ks.head === hs.head, "n_words")
      assert(ks(2) === hs(1), "word_chars must count codepoints like length()")
    }
    // min-gram over supplementary text: windows are codepoint windows —
    // recompute gram-by-gram via the HOF polyhash on substring (codepoint
    // units in Spark substring) and compare
    val s3 = "𠀀𠀁𠀂 𠀃𠀄 mixed ascii tail here"
    val nCp = s3.codePointCount(0, s3.length)
    val grams = spark.range(1).select(
      (1 to (nCp - 3)).map(i =>
        TextFunctions.polyhash(substring(lit(s3), i, 4)).as(s"g$i")): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    val km3 = t.filter(col("id") === 3)
      .select(expr("graft_min_gram_hash(text, 4)")).head().getLong(0)
    assert(km3 === grams.min, "rolling min-gram must equal gram-by-gram HOF min")
  }

  test("graft_polyhash matches the HOF fold on full strings incl. supplementary") {
    NativeHash.register(spark)
    import graft.functions.TextFunctions
    val t = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 'plain ascii one two three'),
        |  (2L, 'héllo wörld café naïve'),
        |  (3L, 'a😀b 𠀀𠀁𠀂 mixed tail'),
        |  (4L, ''),
        |  (5L, CAST(NULL AS STRING))
        |AS t(id, text)""".stripMargin)
    val rows = t.select(col("id"),
      TextFunctions.polyhashNative(col("text")).as("k"),
      TextFunctions.polyhash(col("text")).as("h")).collect()
    rows.foreach { r =>
      if (r.isNullAt(2)) assert(r.isNullAt(1), s"row ${r.getLong(0)}: null must propagate")
      else assert(r.getLong(1) === r.getLong(2), s"row ${r.getLong(0)}: native vs HOF")
    }
    // and the native path must stay a single call — no interpreted
    // transform/aggregate chain left in the optimized tree
    val plan = t.select(TextFunctions.polyhashNative(col("text")))
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("aggregate("), "native path fell back to the HOF fold")
  }

  test("graft_norm_text: NFC composition, casefold, whitespace collapse, trim, " +
      "idempotence, and equality with the SQL twin on the real corpus") {
    NativeHash.register(spark)
    import graft.functions.NormTextImpl
    // decomposed e + U+0301 composes to é; case folds; explicit-class
    // whitespace runs collapse to one space; ends trim away entirely
    assert(NormTextImpl.compute("Café  DELUXE") === "café deluxe")
    assert(NormTextImpl.compute("  A\tB\n\rC\f ") === "a b c")
    assert(NormTextImpl.compute("") === "")
    assert(NormTextImpl.compute("   \t\n") === "")
    assert(NormTextImpl.compute("café deluxe") === "café deluxe") // idempotent
    // null propagates through the expression
    val r = spark.sql("SELECT CAST(NULL AS STRING) AS text")
      .select(expr("graft_norm_text(text)")).head()
    assert(r.isNullAt(0))
    // on the (ASCII) corpus the kernel equals the composable SQL twin,
    // and is idempotent row-for-row
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr("graft_norm_text(text)").as("k"),
        trim(regexp_replace(lower(col("text")), "[ \\t\\n\\f\\r]+", " ")).as("h"))
    assert(docs.filter(col("k") =!= col("h")).count() === 0)
    assert(docs.filter(expr("graft_norm_text(k)") =!= col("k")).count() === 0)
  }

  test("vector kernels match their HOF twins row-by-row on real embeddings") {
    import graft.functions.{Codebooks, VectorFunctions}
    NativeHash.register(spark)
    val v = graft.sources.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val hofNorm = VectorFunctions.norm(col("e"))
    val hofBands = array((0 until Codebooks.EmbBands).map { b =>
      (0 until Codebooks.PlanesPerBand).map { r =>
        when(VectorFunctions.planeDot(col("e"),
          Codebooks.planes(b * Codebooks.PlanesPerBand + r)) >= 0,
          lit(1 << r)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    val cnorm = Codebooks.centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val hofCc = array((0 until Codebooks.NCentroids).map { c =>
      VectorFunctions.planeDot(col("e"), Codebooks.centroids(c)) / (hofNorm * lit(cnorm(c)))
    }: _*)
    val sorted = sort_array(hofCc, asc = false)
    val rows = v.select(
      expr("graft_norm(e)").as("kn"), hofNorm.as("hn"),
      expr("graft_plane_buckets(e)").as("kb"), hofBands.as("hb"),
      expr("graft_ivf_bucket(e)").cast("long").as("ki"),
      array_position(hofCc, array_max(hofCc)).as("hi"),
      expr("graft_ivf_probes(e, 2)").cast("array<long>").as("kp"),
      array(array_position(hofCc, element_at(sorted, 1)),
        array_position(hofCc, element_at(sorted, 2))).as("hp"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1)) // bit-identical norm
      assert(r.getSeq[Int](2) === r.getSeq[Int](3))
      assert(r.getLong(4) === r.getLong(5))
      assert(r.getSeq[Long](6) === r.getSeq[Long](7))
    }
  }

  test("vector kernels propagate null; parameter validation rejects bad gram args") {
    NativeHash.register(spark)
    val r = spark.sql(
      """SELECT graft_norm(CAST(NULL AS ARRAY<DOUBLE>)),
        |       graft_plane_buckets(CAST(NULL AS ARRAY<DOUBLE>)),
        |       graft_ivf_bucket(CAST(NULL AS ARRAY<DOUBLE>)),
        |       graft_ivf_probes(CAST(NULL AS ARRAY<DOUBLE>), 2)""".stripMargin).head()
    assert((0 to 3).forall(r.isNullAt))
    // BIGINT literal parameter is accepted (round-1 ADVICE: it threw CCE)
    val mg = spark.sql("SELECT graft_min_gram_hash('abcdefghij', CAST(8 AS BIGINT))").head()
    assert(!mg.isNullAt(0))
    for (bad <- Seq("graft_min_gram_hash('abc', 0)", "graft_ivf_probes(array(1.0D), -1)",
        // clear errors, not executor-side AIOOBE/CCE: more probes than
        // centroids, wrong avro arity, mistyped avro k argument
        s"graft_ivf_probes(array(1.0D), ${graft.functions.Codebooks.NCentroids + 1})",
        "graft_avro_encode('a', 1)",
        "graft_avro_encode('a', CAST(1 AS BIGINT), CAST(1 AS BIGINT))"))
      assertThrows[Exception](spark.sql(s"SELECT $bad").head())
  }

  test("codebook kernels reject dimension-mismatched embeddings loudly (round-3 ADVICE)") {
    import graft.functions.Codebooks
    NativeHash.register(spark)
    // a 63-dim vector must NOT silently truncate to a plausible-but-wrong
    // bucket — the HOF twin yields null on zip_with length mismatch
    val dims = Codebooks.Dim - 1
    val short = (1 to dims).map(i => s"CAST(0.$i AS DOUBLE)").mkString("array(", ", ", ")")
    // over-long is the PQ-specific hazard: pq_score's fixed-offset loops
    // would silently IGNORE trailing dims while norm() folds all of them
    val long = (1 to Codebooks.Dim + 1).map(i => s"CAST(0.$i AS DOUBLE)")
      .mkString("array(", ", ", ")")
    val codes = Seq.fill(Codebooks.PqM)("1").mkString("array(", ", ", ")")
    for (kernel <- Seq(s"graft_plane_buckets($short)", s"graft_ivf_bucket($short)",
        s"graft_ivf_probes($short, 2)",
        s"graft_pq_code($short)", s"graft_pq_score($short, 1, $codes)",
        s"graft_pq_code($long)", s"graft_pq_score($long, 1, $codes)")) {
      val e = intercept[Exception](spark.sql(s"SELECT $kernel").head())
      def messages(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("codebook")),
        s"expected a clear dimension-mismatch error for $kernel, got: $e")
    }
  }

  test("ivf probes emit each bucket once: tied cosines and a zero-norm vector " +
      "collapse to the first tied position, so the list can be shorter than probes") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    import graft.functions.VectorNativeImpl
    def probes(e: Array[Double], n: Int, cents: Array[Array[Double]]): Seq[Int] =
      VectorNativeImpl.ivfProbes(UnsafeArrayData.fromPrimitiveArray(e), n, cents,
        cents.map(c => math.sqrt(c.map(x => x * x).sum))).toIntArray().toSeq
    // centroids 1 and 3 point the same way, so their cosines tie exactly
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(2.0, 0.0), Array(-1.0, 0.0))
    assert(probes(Array(1.0, 0.5), 4, cents) === Seq(1, 2, 4))
    assert(probes(Array(1.0, 0.5), 2, cents) === Seq(1))
    // a zero vector's cosines are all NaN: one probe, bucket 1
    assert(probes(Array(0.0, 0.0), 3, cents) === Seq(1))
    NativeHash.register(spark)
    val zero = spark.sql(
      "SELECT graft_ivf_probes(array_repeat(CAST(0.0 AS DOUBLE), 64), 8) AS p")
      .head().getSeq[Int](0)
    assert(zero === Seq(1))
  }

  test("intersect-size and dot kernels match their HOF formulations") {
    val pairs = spark.sql(
      """SELECT array(1L,2L,3L,4L) AS a, array(3L,4L,5L) AS b,
        |       array(1.5D, -2.0D, 0.25D) AS x, array(2.0D, 0.5D, 4.0D) AS y""".stripMargin)
    NativeHash.register(spark)
    val r = pairs.select(
      expr("graft_intersect_size(a, b)"),
      size(array_intersect(col("a"), col("b"))).cast("long"),
      expr("graft_dot(x, y)"),
      aggregate(zip_with(col("x"), col("y"), (p, q) => p * q), lit(0.0), (s, v) => s + v)).head()
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getDouble(2) === r.getDouble(3))
  }
}
