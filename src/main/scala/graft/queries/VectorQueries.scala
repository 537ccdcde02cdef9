package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over the embeddings table (SURVEY.md §2b):
  * brute-force cosine top-k (the exactness baseline), hyperplane-LSH
  * bucketed ANN (the scale path), cosine near-dup pairs, per-label
  * centroids.
  *
  * Scale design (100 TB): brute force is O(Q·N) — fine when the query
  * set is small and broadcastable (the shape below broadcasts Q against
  * a partitioned corpus, so the corpus never shuffles). For N×N the LSH
  * bucket join bounds candidates to same-bucket pairs (one shuffle on
  * bucket id); IVF (k-means cells) drops in the same pipeline shape.
  * Cosine ranks on round(·,6) so ordering never depends on last-ulp
  * float noise.
  */
object VectorQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Embeddings extended with their squared norm, computed ONCE per
    * vector by the codegen'd [[graft.functions.DotProduct]] — the N²
    * similarity scans below then do a single fused dot per pair instead
    * of three lambda folds. */
  private def withNorm(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(spark)
    fanOut(Tables.embeddings(spark, dir))
      .withColumn("nsq", expr("graft_dot(embedding, embedding)"))
  }

  /** SEMANTIC decontamination: flag training vectors whose cosine to
    * ANY probe ("eval-set") vector reaches the near-dup threshold —
    * the embedding-space twin of `text_decontam`'s n-gram overlap,
    * catching the paraphrased benchmark leaks token overlap misses.
    * Probes are the deterministic `vec_id % 97` slice standing in for
    * a benchmark suite. The 100 TB shape: an eval set is ALWAYS the
    * small side, so the plan is broadcast(probes) × ONE partitioned
    * corpus scan (codegen'd graft_dot, no shuffle until the per-hit
    * rollup, whose partitions are bounded by the probe count).
    * Round-then-rank (6dp + probe-id tiebreak) picks the reported
    * nearest probe so FP association order can't flip the witness. */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val probes = e.filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("pid"), col("embedding").as("pv"),
        col("nsq").as("p_nsq"))
    val train = e.filter(col("vec_id") % 97 =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("tv"),
        col("nsq").as("t_nsq"))
    val hits = train.join(broadcast(probes))
      .select(col("tid"), col("pid"),
        round(expr("graft_dot(pv, tv)") /
          sqrt(col("p_nsq") * col("t_nsq")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
    val w = Window.partitionBy(col("tid"))
    hits
      .withColumn("rn", row_number().over(
        w.orderBy(col("cos").desc, col("pid").asc)))
      .withColumn("n_hits", count(lit(1)).over(w))
      .filter(col("rn") === 1)
      .select(col("tid"), col("pid").as("nearest_probe"),
        col("cos").as("max_cos"), col("n_hits"))
      .orderBy(col("tid"))
  }

  /** Brute-force cosine top-5 per query (queries = vec_id < 20).
    * The query side is tiny → broadcast; corpus side stays partitioned;
    * ranking is a per-query-key window, no global sort. */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"))
    val scored = t.join(broadcast(q), col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Hard-negative mining (contrastive-training data prep — the
    * DPR/ANCE retrieval-training shape): for each query vector, rank
    * the corpus by cosine, drop its KNOWN POSITIVES by an anti-join
    * against the labeled-pairs relation (here the deterministic
    * `vec_id % 211 == qid` slice standing in for a relevance table —
    * a few labeled documents per query, the realistic density, so the
    * labeled side stays a broadcast at any corpus scale),
    * drop the near-duplicate band (cos > 0.98 — the top of a ranking
    * is where unlabeled TRUE positives hide, the classic
    * false-negative trap, so the miner skips it), and keep the top-5
    * hardest negatives per query. Queries broadcast (the corpus never
    * shuffles for scoring), the positives anti-join broadcasts its
    * small labeled side, and ranking is a bounded per-query window —
    * at 100 TB the scoring pass composes with the IVF cell index
    * exactly like `sim_topk`'s scale path. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"))
    val positives = Tables.embeddings(spark, dir)
      .select((col("vec_id") % 211).as("pqid"), col("vec_id").as("ptid"))
      .filter(col("pqid") < 16)
    val scored = t.join(broadcast(q), col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    // explicit broadcast: the labeled side is 16/211 of the corpus by
    // construction — pinning the hint keeps the anti-join from ever
    // degrading to a full shuffle of the scored relation if the size
    // estimate drifts past the auto threshold at larger corpora
    val negs = scored
      .join(broadcast(positives),
        col("qid") === col("pqid") && col("tid") === col("ptid"),
        "left_anti")
      .filter(col("cos") <= 0.98)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    negs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** All-pairs cosine ≥ 0.4 (embedding near-dup shape). Brute force is
    * the oracle-checkable baseline; the LSH query below is the scale
    * path for the same question.
    *
    * GUARDED: the O(N²) theta join is intentional at oracle scale and
    * catastrophic at corpus scale, so the query refuses to plan above
    * `spark.graft.cosineNearDup.maxRows` (default 100k ≈ 5e9 pairs)
    * rather than letting the exactness baseline get cargo-culted onto
    * a 100 TB corpus — `sim_ann_lsh` / `sim_ann_ivf` answer the same
    * question with bucketed candidates there. */
  private val corpusCount = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Long]

  def cosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    val maxRows = spark.conf
      .get("spark.graft.cosineNearDup.maxRows", "100000").toLong
    // Guard input, cached per (session, dataset): count() over parquet
    // is already metadata-shaped (row-group counts, no column IO), but
    // it is still a scheduled job per invocation — the guard should
    // cost nothing on the 2nd..Nth call against the same corpus.
    val n = corpusCount.getOrElseUpdate((spark, dir),
      Tables.embeddings(spark, dir).count())
    require(n <= maxRows,
      s"sim_cosine_neardup is the O(N²) exactness BASELINE: corpus has " +
        s"$n vectors (> guard $maxRows → ${n * n / 2} candidate pairs). " +
        "Use sim_ann_lsh / sim_ann_ivf (bucketed candidates) at this " +
        "scale, or raise spark.graft.cosineNearDup.maxRows explicitly.")
    val e = withNorm(spark, dir)
    val a = e.select(col("vec_id").as("d1"), col("embedding").as("v1"),
      col("nsq").as("nsq1"))
    val b = e.select(col("vec_id").as("d2"), col("embedding").as("v2"),
      col("nsq").as("nsq2"))
    // the cosine cut lives INSIDE the join condition, LAST: written as
    // a post-join filter, pushdown PREPENDS it to the residual and the
    // d-dimensional dot runs on every ORDERED pair before the cheap
    // d1 < d2 guard — owning the conjunct order halves the dot work
    // (round-18, guide §1.2; the join_fuzzy finding applied here)
    a.join(b, col("d1") < col("d2") &&
        round(expr("graft_dot(v1, v2)") /
          sqrt(col("nsq1") * col("nsq2")), 6) >= 0.4)
      .select(col("d1"), col("d2"),
        round(expr("graft_dot(v1, v2)") /
          sqrt(col("nsq1") * col("nsq2")), 6).as("cos"))
      .orderBy(col("d1"), col("d2"))
  }

  /** ANN via random-hyperplane LSH: 8 sign bits → 256 buckets; nearest
    * neighbor searched within the bucket only. The plane family is a
    * fixed-seed constant, so the projection restates in SQL (plane
    * literals in the oracle) and the query is HASH-GATED like the
    * exact ops; ScalaTest additionally measures recall vs [[topK]]. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val ps = planes(8, 64)
    val e = withNorm(spark, dir)
      .select(col("vec_id"), col("embedding"), col("nsq"),
        hyperplaneBucket(col("embedding"), ps).as("bucket"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), col("bucket").as("q_bucket"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"), col("bucket").as("t_bucket"))
    val scored = t.join(broadcast(q),
        col("t_bucket") === col("q_bucket") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** ANN via multi-probe LSH: each query probes its own bucket PLUS the
    * 8 Hamming-distance-1 buckets (one sign bit flipped). Standard
    * recall booster — near neighbors that land just across one
    * hyperplane are recovered — at a bounded 9× candidate cost, with
    * no extra index state. Same one-shuffle pipeline shape; ScalaTest
    * proves recall ≥ the single-probe variant. */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val ps = planes(8, 64)
    val e = withNorm(spark, dir)
      .select(col("vec_id"), col("embedding"), col("nsq"),
        hyperplaneBucket(col("embedding"), ps).as("bucket"))
    val probes = (0 until 8).foldLeft(array(col("bucket"))) { (acc, i) =>
      array_union(acc, array(col("bucket").bitwiseXOR(1 << i)))
    }
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), explode(probes).as("probe"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"), col("bucket").as("t_bucket"))
    val scored = t.join(broadcast(q),
        col("t_bucket") === col("probe") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Filtered (metadata-constrained) top-k — RAG's "nearest neighbors
    * WITHIN a predicate": each query's candidates are restricted to
    * targets sharing its label (tenant / language / source filters at
    * 100 TB). Pre-filtering beats post-filtering top-k (which can
    * return < k survivors); the label equi-condition simply joins the
    * broadcast query side, and at scale it composes with IVF cell
    * pruning (filter first, probe cells second) or a label-partitioned
    * index layout. Exact over the filtered corpus → plain SQL oracle. */
  def topKFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), col("label").as("q_label"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"), col("label").as("t_label"))
    val scored = t.join(broadcast(q),
        col("t_label") === col("q_label") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Matryoshka (prefix-truncation) retrieval: coarse-rank the corpus
    * on the FIRST 16 dimensions only, then exact-re-rank just the
    * coarse top-20 with the full 64-dim cosine — the deployment shape
    * of matryoshka representation learning (nested embeddings whose
    * prefixes are themselves usable embeddings). The coarse pass does
    * 4× less arithmetic per candidate (and at 100 TB the prefix
    * materializes as its own 4×-smaller column or int8 index, so it
    * reads 4–16× fewer bytes); the exact pass touches 20 candidates
    * per query, never the corpus. Fully deterministic (round-6 scores,
    * tid tie-breaks at both ranking stages) → plain SQL oracle. */
  def matryoshkaRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
      .withColumn("pv", expr("slice(embedding, 1, 16)"))
      .withColumn("p_nsq", expr("graft_dot(pv, pv)"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), col("pv").as("qpv"),
        col("p_nsq").as("qp_nsq"))
    val t = e.select(col("vec_id").as("tid"), col("embedding").as("tv"),
      col("nsq").as("t_nsq"), col("pv").as("tpv"),
      col("p_nsq").as("tp_nsq"))
    val coarse = t.join(broadcast(q), col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"), col("qv"), col("tv"),
        col("q_nsq"), col("t_nsq"),
        round(expr("graft_dot(qpv, tpv)") /
          sqrt(col("qp_nsq") * col("tp_nsq")), 6).as("pcos"))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("pcos").desc, col("tid").asc)
    val cand = coarse.withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= 20)
    val rescored = cand.select(col("qid"), col("tid"),
      round(expr("graft_dot(qv, tv)") /
        sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    rescored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  // ---- Product quantization (sim_pq_adc) ---------------------------
  // PQ splits each 64-dim vector into M=8 8-dim subvectors and
  // quantizes each against its own K=16-centroid codebook: a vector
  // compresses from 256 bytes of float32 to 8 CODE BYTES (32×), and
  // similarity search scans codes against a per-query lookup table
  // (asymmetric distance computation) instead of raw vectors — the
  // memory layout IVF-PQ systems (Faiss) use to hold billion-vector
  // indexes in RAM. At 100 TB the code table is the only thing the
  // scan reads; the codebooks (M×K×16 doubles) broadcast everywhere.
  private val PqM = 8
  private val PqSub = 8
  private val PqK = 16

  private val pqCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Int, Int, Seq[Double])]]

  /** Most recent PQ fit — restated as SQL literals by [[sql]], the
    * same move as the IVF centroid oracle. */
  @volatile private var fittedPqCodebooks
      : Option[Seq[(Int, Int, Seq[Double])]] = None

  /** Per-(vector, subspace) slices: `(vec_id, m, sub)` where `sub` is
    * the m-th `PqSub`-dim (8-dim) slice of the embedding. Narrow
    * generate — the corpus never shuffles for this. */
  private def subvectors(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.DotProduct.register(spark)
    fanOut(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        explode(array((0 until PqM).map(lit): _*)).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m"),
        expr(s"slice(embedding, m * $PqSub + 1, $PqSub)").as("sub"))
  }

  /** Corpus PQ code rows `(vec_id, m, code)`: the codegen'd
    * [[graft.functions.PqEncode]] loop over the fitted codebook
    * literals (same per-subspace (score, code) argmin with the same
    * 6dp rounding BEFORE the comparison — see [[pqAdc]]'s
    * association-noise note), posexploded from the per-vector
    * 8-code array. Replaces the ×16 codebook join + SortAggregate
    * encode — one Exchange and two sorts per invocation — with a
    * single narrow projection per vector: zero shuffle for the
    * 32×-compressed code table (round-18, guide §2.4/§4). An
    * `array_min`-over-struct-literals formulation was tried first
    * and REJECTED: its 8×16-entry generated method exceeds janino's
    * 64 KB limit and the stage fell back to interpreted execution,
    * measured slower than the join it replaced. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val cb = pqFit(spark, dir)
    fanOut(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        posexplode(graft.functions.PqEncode.column(spark, col("embedding"),
          cb, PqM, PqK, PqSub, 6)).as(Seq("m", "code")))
  }

  /** Fit the M per-subspace codebooks: k-means over subvectors,
    * initialized from the first K vectors' slices (deterministic),
    * 3 Lloyd iterations. Codebooks are index METADATA (M×K×`PqSub` =
    * 8×16×8 doubles) — collected to the driver and re-broadcast per
    * iteration exactly like the IVF centroids. */
  private def pqFit(spark: SparkSession, dir: String)
      : Seq[(Int, Int, Seq[Double])] = {
    val fitted = pqCache.getOrElseUpdate((spark, dir), {
      import spark.implicits._
      val subs = subvectors(spark, dir)
      var cents: Seq[(Int, Int, Seq[Double])] =
        subs.filter(col("vec_id") < PqK)
          .collect()
          .map(r => (r.getInt(1), r.getLong(0).toInt,
            r.getSeq[Float](2).map(_.toDouble).toSeq))
          .sortBy(c => (c._1, c._2)).toSeq
      for (_ <- 0 until 3) {
        val cdf = broadcast(cents.toDF("m", "code", "cent"))
        // per-subspace argmin of ||s-c||² = |s|² - 2s·c + |c|²
        // (|s|² constant per subvector → rank by |c|² - 2s·c)
        val assigned = subs.join(cdf, "m")
          .select(col("vec_id"), col("m"), col("sub"), col("code"),
            (expr("graft_dot(cent, cent)")
              - lit(2.0) * expr("graft_dot(sub, cent)")).as("score"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min(struct(col("score"), col("code"))).getField("code")
            .as("code"),
            first(col("sub")).as("sub"))
        cents = assigned
          .select(col("m"), col("code"),
            posexplode(col("sub")).as(Seq("pos", "x")))
          .groupBy(col("m"), col("code"), col("pos"))
          .agg(avg(col("x").cast(DoubleType)).as("mean"))
          .groupBy(col("m"), col("code"))
          .agg(collect_list(struct(col("pos"), col("mean"))).as("pm"))
          .select(col("m"), col("code"),
            expr("transform(array_sort(pm, (a, b) -> a.pos - b.pos), " +
              "p -> p.mean)").as("cent"))
          .as[(Int, Int, Seq[Double])].collect().toSeq
          .sortBy(c => (c._1, c._2))
      }
      cents
    })
    fittedPqCodebooks = Some(fitted)
    fitted
  }

  /** ANN via product quantization + asymmetric distance: encode every
    * corpus vector as M=8 code bytes, build each query's (m, code) →
    * partial-dot lookup table against the codebooks, and rank
    * candidates by the RECONSTRUCTED cosine — adot/√(|q|²·|recon|²),
    * where both adot and |recon|² fold from per-subspace table
    * entries. The scan side touches ONLY the code table (32× smaller
    * than the vectors) plus broadcast LUTs: the Faiss-style memory
    * shape that holds a billion-vector index in RAM at 100 TB.
    * Everything after the fit is exactly restatable over the codebook
    * literals, so the query is hash-gated like the IVF family;
    * DedupSimSpec additionally pins recall against brute force. */
  def pqAdc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = pqFit(spark, dir)
    val cdf = broadcast(cents.toDF("m", "code", "cent"))
    // encode: per-(vector, subspace) nearest code, (score, code)
    // tie-break. The score is ROUNDED to 6dp before the argmin (on
    // both engines): the two sides fold the distance with different
    // FP association (graft_dot's two separate dots here vs the
    // oracle's single term-by-term SUM), so near-equidistant codes
    // could otherwise flip the tie-break on association noise
    // (~1e-14) — after rounding, such codes compare EQUAL and the
    // deterministic code tie-break decides identically (ADVICE r12).
    // Encoded by the argminLit projection (pqCodes) — the former
    // ×16 join + SortAggregate shape cost one Exchange and two sorts
    // per invocation for the same flops (round-18, guide §2.4/§4)
    val codes = pqCodes(spark, dir)
    // |centroid|² per (m, code): folded from the same literals on both
    // engines (ascending-position sum order)
    val cn = broadcast(cents
      .map { case (m, c, v) => (m, c, v.map(x => x * x).sum) }
      .toDF("m", "code", "cnorm"))
    val q = withNorm(spark, dir).filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"))
    // per-query LUT: partial dot of the query's m-th slice with every
    // centroid — 20 queries × 64 codebook rows, broadcast. cnorm is
    // FOLDED INTO the LUT rows before the broadcast (a kilobyte-side
    // join) so the corpus-sized probe stream passes ONE broadcast
    // join instead of two (round-18, guide §2.4) — same rows by
    // construction, sums unchanged
    val lut = broadcast(q.crossJoin(cdf)
      .select(col("qid"), col("m"), col("code"),
        expr(s"graft_dot(slice(qv, m * $PqSub + 1, $PqSub), cent)")
          .as("contrib"))
      .join(cn, Seq("m", "code")))
    val sc0 = codes.join(lut, Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("contrib")).as("adot"), sum(col("cnorm")).as("tn"))
    val scored = sc0
      .join(broadcast(q.select(col("qid"), col("q_nsq"))), "qid")
      .select(col("qid"), col("vec_id").as("tid"),
        round(col("adot") / sqrt(col("q_nsq") * col("tn")), 6)
          .as("cos_hat"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos_hat").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos_hat"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** IVF-PQ composed ANN (`sim_ann_ivfpq`) — the actual Faiss
    * deployment shape: queries probe their `nprobe` nearest IVF cells
    * (the fitted k-means centroids), and candidates are ranked INSIDE
    * the probed cells by PQ asymmetric distance (per-query LUT over
    * the fitted codebooks), never by the raw vectors. The two fitted
    * structures compose their scale stories: IVF bounds the candidate
    * set at nprobe × max-cell-size per query (a broadcast probe-set
    * join against ONE pass over the cell assignment), and PQ bounds
    * the bytes ranked — 8 code bytes per candidate plus kilobyte
    * broadcast LUTs. At 100 TB that is the difference between
    * scanning vectors and scanning an index. Hash-gated like both
    * parents: everything after the fits restates over the centroid
    * AND codebook literals; DedupSimSpec pins recall vs brute force
    * at the bounded candidate budget. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nprobe = 3
    val cents = ivfFit(spark, dir)
    val cdf = broadcast(cents.toDF("cell", "centroid"))
    val e = withNorm(spark, dir)
    // IVF side: corpus assignment is the argminLit projection (no
    // shuffle — round-18); the crossJoin cell scores survive only on
    // the QUERY side (20 rows × cells after pushdown) for the probes
    val cellScores = e.crossJoin(cdf)
      .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"),
        (expr("graft_dot(centroid, centroid)")
          - lit(2.0) * expr("graft_dot(embedding, centroid)"))
          .as("score"))
    val wq = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").asc, col("cell").asc)
    // probe set: (qid, cell) pairs — index metadata, broadcast
    val probes = cellScores.filter(col("vec_id") < 20)
      .withColumn("cell_rank", row_number().over(wq))
      .filter(col("cell_rank") <= nprobe)
      .select(col("vec_id").as("qid"), col("cell").as("q_cell"))
    // PQ side: per-query LUT (same encode as pqAdc, same 6dp argmin
    // rounding — see the association-noise note there)
    val cb = pqFit(spark, dir)
    val cbdf = broadcast(cb.toDF("m", "code", "cent"))
    val cn = broadcast(cb
      .map { case (m, c, v) => (m, c, v.map(x => x * x).sum) }
      .toDF("m", "code", "cnorm"))
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"))
    // cnorm folded into the broadcast LUT (kilobyte-side join) so the
    // candidate stream passes ONE broadcast join fewer (round-18)
    val lut = broadcast(q.crossJoin(cbdf)
      .select(col("qid"), col("m"), col("code"),
        expr(s"graft_dot(slice(qv, m * $PqSub + 1, $PqSub), cent)")
          .as("contrib"))
      .join(cn, Seq("m", "code")))
    // ONE projection computes each corpus vector's IVF cell AND its 8
    // PQ codes from the same scan row. These were two separate
    // subtrees joined back on vec_id — and with both reduced to
    // narrow projections the planner BROADCAST the corpus-sized
    // assignment side (fine on the fixture, the failure shape at
    // 100 TB). Fused, there is no join to mis-plan; the probe prune
    // runs BEFORE the 8× code explode (guide §3.3: explode after the
    // join, not before).
    val enc = fanOut(Tables.embeddings(spark, dir))
      .select(col("vec_id"),
        argminLit(cents, col("embedding")).as("t_cell"),
        graft.functions.PqEncode.column(spark, col("embedding"), cb,
          PqM, PqK, PqSub, 6).as("codes8"))
    // candidates: probed cells only, then ADC over the codes
    val sc0 = enc
      .join(broadcast(probes), col("q_cell") === col("t_cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes8")).as(Seq("m", "code")))
      .join(lut, Seq("qid", "m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("contrib")).as("adot"), sum(col("cnorm")).as("tn"))
    val scored = sc0
      .join(broadcast(q.select(col("qid"), col("q_nsq"))), "qid")
      .select(col("qid"), col("vec_id").as("tid"),
        round(col("adot") / sqrt(col("q_nsq") * col("tn")), 6)
          .as("cos_hat"))
    val w2 = Window.partitionBy(col("qid"))
      .orderBy(col("cos_hat").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos_hat"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }
  // ------------------------------------------------------------------

  /** Per-label, per-dimension centroid, mean rounded to 6 decimals.
    * (Float→decimal casts disagree between engines — Spark rounds the
    * shortest double repr — so the sum runs in plain double; with ~100s
    * of ~0.2-magnitude addends the association error is ~1e-14, far
    * inside the 5e-7 rounding granularity. The typed Aggregator in
    * graft.functions is the single-pass scale path for the same
    * computation; ScalaTest proves them equal.) */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("x").cast(DoubleType)) / count(lit(1)), 6)
        .as("mean"))
      .orderBy(col("label"), col("pos"))

  private val ivfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Int, Seq[Double])]]

  /** Most recent fit, kept so [[sql]] can restate the centroids as
    * DuckDB VALUES literals AFTER the queries ran (Verify dumps
    * oracle_sql.json last): the k-means fit is data-dependent, but
    * once fitted the probe/score/rank pipeline is exactly restatable
    * over the literal centroids — the same move that brought the LSH
    * pair under the hash gate with fixed-seed hyperplane literals. */
  @volatile private var fittedCentroids
      : Option[Seq[(Int, Seq[Double])]] = None

  /** Fit IVF cells: a few Lloyd iterations of k-means over the corpus.
    * Centroids are index *metadata* (k × dim doubles — bytes, not
    * data), so collecting them to the driver and re-broadcasting per
    * iteration is the legitimate pattern: every heavy step (assignment,
    * per-cell means) is a distributed scan + hash aggregation. */
  private def ivfFit(spark: SparkSession, dir: String, k: Int = 16,
      iters: Int = 4): Seq[(Int, Seq[Double])] = {
    val fitted = ivfCache.getOrElseUpdate((spark, dir), {
      graft.functions.DotProduct.register(spark)
      import spark.implicits._
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      var cents: Seq[(Int, Seq[Double])] = e.filter(col("vec_id") < k)
        .orderBy(col("vec_id")).collect()
        .zipWithIndex
        .map { case (r, i) =>
          i -> r.getSeq[Float](1).map(_.toDouble).toSeq
        }.toSeq
      for (_ <- 0 until iters) {
        val cdf = cents.toDF("cell", "centroid")
        // assignment: argmin over cells of ||x-c||² = |x|² - 2x·c + |c|²
        // (|x|² constant per vector → rank by |c|² - 2x·c)
        val assigned = e.crossJoin(broadcast(cdf))
          .select(col("vec_id"), col("embedding"), col("cell"),
            (expr("graft_dot(centroid, centroid)")
              - lit(2.0) * expr("graft_dot(embedding, centroid)"))
              .as("score"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("score"), col("cell"))).getField("cell").as("cell"),
            first(col("embedding")).as("embedding"))
        cents = assigned
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("cell"), col("pos"))
          .agg(avg(col("x").cast(DoubleType)).as("m"))
          .groupBy(col("cell"))
          .agg(collect_list(struct(col("pos"), col("m"))).as("pm"))
          .select(col("cell"),
            expr("transform(array_sort(pm, (a, b) -> a.pos - b.pos), p -> p.m)")
              .as("centroid"))
          .as[(Int, Seq[Double])].collect().toSeq
      }
      cents
    })
    fittedCentroids = Some(fitted)
    fitted
  }

  /** ANN via IVF: assign every vector to its nearest k-means cell, then
    * search the query's `nprobe` nearest cells. Same pipeline shape as
    * the LSH variant — one shuffle on cell id — but with data-adaptive
    * partitions (survey's "IVF ... as the scale path"). Targets stay in
    * exactly one cell, so probing more cells fans out only the (tiny)
    * broadcast query side: candidate count is bounded by
    * nprobe × max-cell-size per query, never the corpus. Approximate →
    * no oracle; ScalaTest checks scores and recall vs brute force, and
    * that multi-probe recall dominates single-cell at that bounded
    * extra cost. */
  private def annIvfImpl(spark: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import spark.implicits._
    val cents = ivfFit(spark, dir)
    val cdf = broadcast(cents.toDF("cell", "centroid"))
    val e = withNorm(spark, dir)
    // per-(vector, cell) distance rank: argmin over cells of
    // ||x-c||² = |x|² - 2x·c + |c|² (|x|² constant per vector)
    val cellScores = e.crossJoin(cdf)
      .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"),
        (expr("graft_dot(centroid, centroid)")
          - lit(2.0) * expr("graft_dot(embedding, centroid)"))
          .as("score"))
    // corpus assignment: the argminLit projection (no shuffle —
    // round-18); cellScores survives only on the filtered query side
    val assigned = ivfAssign(spark, dir)
    // queries probe their nprobe nearest cells (deterministic tie-break)
    val wq = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").asc, col("cell").asc)
    val q = cellScores.filter(col("vec_id") < 20)
      .withColumn("cell_rank", row_number().over(wq))
      .filter(col("cell_rank") <= nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), col("cell").as("q_cell"))
    val t = assigned.select(col("vec_id").as("tid"),
      col("embedding").as("tv"), col("nsq").as("t_nsq"),
      col("cell").as("t_cell"))
    val scored = t.join(broadcast(q),
        col("t_cell") === col("q_cell") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  /** Single-cell IVF search (nprobe=1): the cheapest probe. */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfImpl(spark, dir, nprobe = 1)

  /** Multi-probe IVF (nprobe=3): the IVF analogue of
    * [[annLshMultiprobe]] — recovers neighbors that fell just across a
    * cell boundary for a bounded 3× candidate budget. */
  def annIvfMultiprobe(spark: SparkSession, dir: String): DataFrame =
    annIvfImpl(spark, dir, nprobe = 3)

  /** IVF as a PERSISTED index layout: the cell assignment is written
    * once as a cell-partitioned Arrow directory (`partitionBy("cell")`
    * — Hive-style value dirs), and probing becomes a partition-filtered
    * scan: the probed cell ids (index METADATA — at most
    * queries × nprobe ints, collected to the driver like the centroids
    * themselves) turn into a planning-time partition filter, so the
    * scan opens ONLY the probed cells' files. At 100 TB this is the
    * difference between re-deriving the assignment per query (the
    * in-memory `sim_ann_ivf` shape) and amortizing it: build the
    * index once, then every query is a file-pruned scan of
    * nprobe/k of the corpus. Results are EXACTLY `sim_ann_ivf`'s
    * (same cached centroids, same scoring/tie-breaks; floats
    * round-trip bit-exact through Arrow) — DedupSimSpec pins the
    * equality and the file pruning. */
  /** Per-(vector, cell) distance scores against the fitted centroids —
    * the shared front of every indexed IVF pipeline. */
  private def ivfCellScores(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.functions.DotProduct.register(spark)
    val cents = ivfFit(spark, dir)
    val cdf = broadcast(cents.toDF("cell", "centroid"))
    withNorm(spark, dir).crossJoin(cdf)
      .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"),
        (expr("graft_dot(centroid, centroid)")
          - lit(2.0) * expr("graft_dot(embedding, centroid)"))
          .as("score"))
  }

  /** Lexicographic (score, key) argmin over FITTED literals, folded
    * in ONE codegen'd projection: scores every literal (key, vector)
    * against `emb` — score = |c|² − 2·emb·c, optionally post-mapped
    * (the PQ 6dp rounding) — and takes `array_min` over the
    * (score, key) structs. This is the exact comparison the
    * `min(struct(score, key))` aggregate it replaces performs (struct
    * ordering is field-by-field; keys are distinct, so the minimum is
    * unique and deterministic). The aggregate shape paid a
    * crossJoin ×k row blow-up plus an Exchange and TWO SortAggregate
    * sorts — Min over a STRUCT buffer is not hash-aggregable — for
    * the same flops this projection does with zero shuffle
    * (round-18, guide §2.4/§4). */
  private def argminLit(lits: Seq[(Int, Seq[Double])], emb: Column,
      post: Column => Column = identity): Column =
    array_min(array(lits.map { case (k, v) =>
      val cv = typedLit(v)
      struct(post(call_function("graft_dot", cv, cv)
          - lit(2.0) * call_function("graft_dot", emb, cv)).as("score"),
        lit(k).as("key"))
    }: _*)).getField("key")

  /** Argmin cell per vector, (score, cell) tie-break — identical to
    * the oracle's ROW_NUMBER assignment, computed as the [[argminLit]]
    * projection (no shuffle, no ×cells row blow-up). */
  private def ivfAssign(spark: SparkSession, dir: String): DataFrame = {
    val cents = ivfFit(spark, dir)
    withNorm(spark, dir).select(col("vec_id"), col("embedding"),
      col("nsq"), argminLit(cents, col("embedding")).as("cell"))
  }

  /** Probe a cell-partitioned index layout: queries' nearest cells →
    * planning-time partition filter → cosine top-5 (nprobe=1). */
  private def ivfProbeIndexed(spark: SparkSession,
      cellScores: DataFrame, index: String): DataFrame = {
    val wq = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").asc, col("cell").asc)
    val q = cellScores.filter(col("vec_id") < 20)
      .withColumn("cell_rank", row_number().over(wq))
      .filter(col("cell_rank") <= 1)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("nsq").as("q_nsq"), col("cell").as("q_cell"))
    val probed = q.select(col("q_cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val t = spark.read.format("arrow").load(index)
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("vec_id").as("tid"), col("embedding").as("tv"),
        col("nsq").as("t_nsq"), col("cell").as("t_cell"))
    val scored = t.join(broadcast(q),
        col("t_cell") === col("q_cell") && col("tid") =!= col("qid"))
      .select(col("qid"), col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("tid").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("tid"), col("cos"), col("rn"))
      .orderBy(col("qid"), col("rn"))
  }

  def annIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val cellScores = ivfCellScores(spark, dir)
    // build the index layout ONCE per process (read-only fixture —
    // Fixtures.once contract): one file set per cell. On a cluster the
    // IVF index is built once and amortized over every probe; the
    // bench's timed passes should measure the probe path, which is the
    // steady-state cost.
    val index = graft.Scratch.dir("ivf_index", dir)
    graft.Fixtures.once(index) {
      // one exchange of narrow metadata at BUILD time so each cell
      // lands as few, full files: the projection-based assignment is
      // otherwise 32-way round-robin and partitionBy would splinter
      // 32 files per cell, making every probe scan pay ~500 file
      // opens (guide §6 small files; measured 0.6 → 1.2 s per probe)
      ivfAssign(spark, dir).repartition(col("cell"))
        .write.format("arrow").partitionBy("cell")
        .mode("overwrite").save(index)
    }
    ivfProbeIndexed(spark, cellScores, index)
  }

  /** Incremental IVF index maintenance — the vector twin of
    * `dedup_incremental`: the index over the existing corpus (vec_id
    * below the 90% cut) is built once; a new ingest batch assigns
    * ONLY ITS OWN vectors against the FIXED centroids and APPENDS
    * into the same cell-partitioned layout — no rebuild, no touch of
    * the existing files. Because assignment against fixed centroids
    * is per-vector, the maintained index holds exactly the rows a
    * full rebuild would, so probing it answers bit-identically to
    * `sim_ann_ivf` — one oracle covers all three pipelines, and
    * DedupSimSpec pins that the append left the base files untouched.
    * The 100 TB shape: nightly embedding ingest lands as a partition
    * append of O(batch) rows, while the petabyte index keeps serving. */
  def annIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    val cellScores = ivfCellScores(spark, dir)
    val maxId = Tables.embeddings(spark, dir)
      .agg(max(col("vec_id"))).collect()(0).getLong(0)
    val cut = maxId * 9L / 10L
    val index = graft.Scratch.dir("ivf_incr_index", dir)
    graft.Fixtures.once(index) {
      // repartition(cell) before the two writes: see annIvfIndexed
      val assign = ivfAssign(spark, dir).repartition(col("cell"))
      assign.filter(col("vec_id") < cut)
        .write.format("arrow").partitionBy("cell")
        .mode("overwrite").save(index)
      // the ingest: only the batch's assignments move — an append into
      // the existing col=value layout
      assign.filter(col("vec_id") >= cut)
        .write.format("arrow").partitionBy("cell")
        .mode("append").save(index)
    }
    ivfProbeIndexed(spark, cellScores, index)
  }

  /** DELETE maintenance on the persisted IVF index — the third leg of
    * build / append / delete: vectors retired from the corpus are
    * removed from the cell-partitioned index by a MERGE-ON-READ
    * deletion-vector DELETE, so NO cell file is rewritten — a DV
    * sidecar masks the retired rows and probes remain planning-time
    * file-pruned scans of the original layout. At 100 TB this is the
    * only viable shape: nightly retirements cost O(deleted rows) of
    * sidecar metadata, never an index rebuild (and never a rewrite of
    * the petabyte of live cells). The retired set is a deterministic
    * slice (vec_id % 7 = 3), so the oracle is the sim_ann_ivf pipeline
    * with the same cut on the target side; DedupSimSpec pins that the
    * base cell files are byte-untouched after the DELETE. */
  def annIvfDelete(spark: SparkSession, dir: String): DataFrame = {
    val cellScores = ivfCellScores(spark, dir)
    val index = graft.Scratch.dir("ivf_del_index", dir)
    graft.Fixtures.once(index) {
      // one exchange of narrow metadata at BUILD time so each cell
      // lands as few, full files: the projection-based assignment is
      // otherwise 32-way round-robin and partitionBy would splinter
      // 32 files per cell, making every probe scan pay ~500 file
      // opens (guide §6 small files; measured 0.6 → 1.2 s per probe)
      ivfAssign(spark, dir).repartition(col("cell"))
        .write.format("arrow").partitionBy("cell")
        .mode("overwrite").save(index)
      graft.sources.arrow.GraftCatalog.register(spark)
      graft.sources.arrow.ArrowDataSource.initTableLog(index)
      spark.sql(s"CALL graft.system.set_dv(path => '$index')").collect()
      spark.sql(s"DELETE FROM graft.arrow.`$index` WHERE vec_id % 7 = 3")
    }
    ivfProbeIndexed(spark, cellScores, index)
  }

  /** Semantic (embedding-space) dedup — the SemDeDup shape: cluster
    * the corpus into the fitted IVF cells, then find near-duplicates
    * ONLY within a cell. A document is reported (as a drop candidate)
    * iff an EARLIER same-cell document's cosine is ≥ 0.4 against it;
    * `kept_by` is the lowest-id such near-dup (chains of drops resolve
    * to a kept representative by induction on id). This is the scale
    * path the guarded O(N²) `sim_cosine_neardup` points at: candidate
    * pairs are bounded by Σ|cell|²/2 ≈ N²/(2k) instead of N²/2, and at
    * 100 TB the assignment persists as the cell-partitioned layout
    * (`sim_ann_ivf_indexed`) so each cell's pair generation is local
    * to its own partition — no corpus-wide shuffle. Hash-gated: the
    * fitted centroids restate as SQL literals (the IVF oracle move),
    * and everything downstream — assignment, intra-cell pairing,
    * cosine, the ≥ 0.4 cut — re-derives exactly in DuckDB. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = ivfAssign(spark, dir)
    val a = assigned.select(col("vec_id").as("d1"),
      col("embedding").as("v1"), col("nsq").as("nsq1"), col("cell"))
    val b = assigned.select(col("vec_id").as("d2"),
      col("embedding").as("v2"), col("nsq").as("nsq2"),
      col("cell").as("cell2"))
    // cosine cut as the LAST join-condition conjunct (not a post-join
    // filter that pushdown would prepend): the dot runs only on pairs
    // the cheap d2 < d1 guard admits — halves the intra-cell dot work
    // (round-18, guide §1.2; the join_fuzzy finding applied here).
    // MERGE hint: with the assignment now a narrow projection (not an
    // aggregate), the planner's size estimate would BROADCAST one
    // corpus side of this self-join — fine on the fixture, the
    // failure shape at 100 TB. The intra-cell pair join must stay a
    // shuffled join on cell (round-18).
    a.join(b.hint("merge"), col("cell") === col("cell2") && col("d2") < col("d1") &&
        round(expr("graft_dot(v1, v2)") /
          sqrt(col("nsq1") * col("nsq2")), 6) >= 0.4)
      .select(col("d1"), col("cell"), col("d2"),
        round(expr("graft_dot(v1, v2)") /
          sqrt(col("nsq1") * col("nsq2")), 6).as("cos"))
      .groupBy(col("d1"), col("cell"))
      .agg(min(col("d2")).as("kept_by"), max(col("cos")).as("max_cos"),
        count(lit(1)).as("n_dups"))
      .select(col("d1").as("vec_id"), col("cell"), col("kept_by"),
        col("max_cos"), col("n_dups"))
      .orderBy(col("vec_id"))
  }

  /** The typed [[graft.functions.VectorMeanAgg]] Aggregator on the
    * declared (oracle-checked) surface: single-pass per-label centroid,
    * first three dimensions exposed as scalars. The oracle recomputes
    * the same means positionally — a hash match proves the custom
    * aggregation (partial buffers + merge) is correct. */
  def vectorMeanUdaf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Registration.once(spark, "graft_vec_mean")(
      spark.udf.register("graft_vec_mean", udaf(graft.functions.VectorMeanAgg)))
    Tables.embeddings(spark, dir)
      .groupBy(col("label"))
      .agg(expr("graft_vec_mean(embedding)").as("c"))
      .select(col("label"),
        round(element_at(col("c"), 1), 6).as("m0"),
        round(element_at(col("c"), 2), 6).as("m1"),
        round(element_at(col("c"), 3), 6).as("m2"))
      .orderBy(col("label"))
  }

  // Bench evicts fixture memos at query-family boundaries (the
  // @volatile fitted copies survive for oracle restatement)
  graft.FixtureCaches.register { () =>
    corpusCount.clear(); pqCache.clear(); ivfCache.clear()
  }

  /** CLUSTER-BALANCED sampling — the diversity-balancing curation
    * step (the SemDeDup-family follow-up): assign every embedding to
    * its fitted IVF cell, then downsample each cell toward the
    * SCARCEST cell's mass, so over-represented semantic clusters
    * (boilerplate, templated pages) stop dominating the training mix.
    * Rates are integer ppm — rate(cell) = m·10⁶ DIV n(cell) with m
    * the minimum cell count, so the binding (scarcest) cell keeps
    * everything by construction — and membership is the corpus-wide
    * folded multiplicative hash (same family as the mixture
    * samplers), so the selected set is reproducible and
    * engine-independent. Scale: the assignment is the one IVF pass
    * every sim_ann_ivf* pipeline shares (at 100 TB amortized through
    * the persisted cell-partitioned index), the rate table is
    * |cells| rows broadcast back, and the kept set never shuffles —
    * one hash agg per cell ends the plan. Deterministic end to end:
    * the oracle restates the fitted centroids as literals and
    * re-derives assignment, rates, and membership in SQL. */
  def sampleClusterBalanced(spark: SparkSession, dir: String)
      : DataFrame = {
    val cents = ivfFit(spark, dir)
    // assigned feeds the cell-count build AND the membership pass, and
    // counts feeds both sides of its own scalar cross — unpinned, the
    // IVF assignment (corpus × centroids dot products) ran ~3×. Pin
    // both: assigned is (vec_id, cell) narrow metadata, counts is
    // |cells| rows (round-18, guide §5). Assignment itself is the
    // argminLit projection (no shuffle — round-18, guide §2.4/§4).
    val assigned = withNorm(spark, dir)
      .select(col("vec_id"), argminLit(cents, col("embedding")).as("cell"))
      .persist()
    val counts = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_total"))
      .persist()
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("n_total")).as("m"))))
      .select(col("cell"), col("n_total"),
        expr("m * 1000000 DIV n_total").as("rate_ppm"))
    assigned
      .withColumn("h",
        expr("vec_id % 2147483648 * 2654435761 % 4294967296 % 1000000"))
      .join(broadcast(rates), "cell")
      .groupBy(col("cell"), col("n_total"), col("rate_ppm"))
      .agg(sum(when(col("h") < col("rate_ppm"), 1L).otherwise(0L))
        .as("n_kept"))
      .orderBy(col("cell"))
  }

  val defs: Map[String, Q] = Map(
    "sample_cluster_balanced" -> (sampleClusterBalanced _),
    "sim_topk" -> (topK _),
    "sim_hard_negatives" -> (hardNegatives _),
    "sim_mmr_rerank" -> (mmrRerank _),
    "sim_decontam_semantic" -> (semanticDecontam _),
    "sim_ann_filtered" -> (topKFiltered _),
    "sim_cosine_neardup" -> (cosineNearDup _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_lsh_multiprobe" -> (annLshMultiprobe _),
    "sim_ann_ivf" -> (annIvf _),
    "sim_pq_adc" -> (pqAdc _),
    "sim_ann_ivfpq" -> (annIvfPq _),
    "sim_matryoshka_rerank" -> (matryoshkaRerank _),
    "sim_ann_ivf_multiprobe" -> (annIvfMultiprobe _),
    "sim_ann_ivf_indexed" -> (annIvfIndexed _),
    "sim_ann_ivf_incremental" -> (annIvfIncremental _),
    "sim_ann_ivf_delete" -> (annIvfDelete _),
    "dedup_semantic" -> (semanticDedup _),
    "sim_centroids" -> (centroids _),
    "sim_hybrid_search" -> (hybridSearch _),
    "vec_quantize_int8" -> (vectorQuantize _),
    "agg_vector_mean_udaf" -> (vectorMeanUdaf _))

  /** Per-vector int8 (0..255) min/max quantization with reconstruction
    * error — the storage-side transform that cuts a float32 embedding
    * corpus 4× at 100 TB. Deterministic floor-based bucketing (no
    * engine round() semantics in the quantize step); emits the
    * quantization params, the worst-element reconstruction error, and
    * the quantized checksum per vector. Pure narrow arithmetic — one
    * explode + one hash agg back to vector granularity. */
  def vectorQuantize(spark: SparkSession, dir: String): DataFrame = {
    val base = fanOut(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"),
        array_min(col("embedding")).cast("double").as("mn"),
        array_max(col("embedding")).cast("double").as("mx"))
      .filter(col("mx") > col("mn"))
    val scale = (col("mx") - col("mn")) / lit(255.0)
    val xd = col("x").cast("double")
    val q = floor((xd - col("mn")) / scale + lit(0.5)).cast("long")
    base.select(col("vec_id"), col("mn"), col("mx"),
        explode(col("embedding")).as("x"))
      .select(col("vec_id"), col("mn"), col("mx"), xd.as("xd"), q.as("q"))
      .groupBy(col("vec_id"), col("mn"), col("mx"))
      .agg(
        round(max(abs(col("mn") + col("q") * ((col("mx") - col("mn")) / lit(255.0)) - col("xd"))), 6)
          .as("max_err"),
        sum(col("q")).as("q_sum"))
      .select(col("vec_id"), round(col("mn"), 6).as("qmin"),
        round(col("mx"), 6).as("qmax"), col("max_err"), col("q_sum"))
      .orderBy(col("vec_id"))
  }

  /** Two-stage hybrid retrieval — the canonical RAG-pipeline shape:
    * BM25 retrieves a candidate set (top-20 lexical matches), then a
    * dense re-rank scores each candidate's embedding against a fixed
    * query vector (vec_id 0), and the final order blends both signals
    * (0.1·bm25 + cosine, both pre-rounded). The lexical stage bounds
    * the expensive dense stage to 20 vectors — at corpus scale the
    * candidate set broadcasts and the embedding table is probed by an
    * equi join, never scanned N×Q. */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val cand = TextQueries.textBm25(spark, dir)
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nsq").as("q_nsq"))
    cand.join(e, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("bm25"),
        round(expr("graft_dot(embedding, qv)") /
          sqrt(col("nsq") * col("q_nsq")), 6).as("cos"))
      .select(col("doc_id"), col("bm25"), col("cos"),
        round(lit(0.1) * col("bm25") + col("cos"), 6).as("hybrid"))
      .orderBy(col("hybrid").desc, col("doc_id"))
      .limit(10)
  }

  /** The LSH hyperplanes as DuckDB VALUES literals — the plane family
    * is a fixed-seed CONSTANT of the operator (VectorFunctions.planes),
    * so the "random" projection is fully restatable in SQL and the LSH
    * query joins the exact-verification club: Double.toString is the
    * shortest round-trip representation, so DuckDB parses bit-identical
    * coefficients. */
  private def planesSqlValues: String =
    graft.functions.VectorFunctions.planes(8, 64).zipWithIndex
      .map { case (p, i) =>
        s"($i, [${p.map(_.toString).mkString(", ")}])"
      }.mkString(",\n  ")

  /** MMR (maximal marginal relevance) retrieval diversification — the
    * RAG-context re-ranking pass: from the query's top-8 cosine
    * candidates, greedily select k=4 maximizing
    * λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) with λ = 0.5, so the
    * context window holds RELEVANT-AND-DIVERSE passages instead of
    * four near-copies of the best hit.
    *
    * Scale shape: relevance ranking is the existing broadcast-probe
    * top-k (one corpus scan); the greedy runs on the DRIVER over the
    * k×candidate score matrix — 8 candidates, 28 pairwise sims, the
    * bounded driver-fold class (IVF centroids, the KMV sample) — and
    * every number the greedy compares is ENGINE-computed and rounded
    * (round-6 cosines from the same `graft_dot` pipeline the oracle
    * re-derives), so the selection is reproducible bit-for-bit in
    * DuckDB's unrolled-CTE restatement. Ties break on vec_id at both
    * the relevance and the marginal-score stage. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = withNorm(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("nsq").as("q_nsq"))
    val t = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("tid"), col("embedding").as("tv"),
        col("nsq").as("t_nsq"))
    val topCand = t.join(broadcast(q))
      .select(col("tid"),
        round(expr("graft_dot(qv, tv)") /
          sqrt(col("q_nsq") * col("t_nsq")), 6).as("rel"))
      .orderBy(col("rel").desc, col("tid").asc).limit(8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = topCand.map(_._1).toIndexedSeq
    val cf = t.filter(col("tid").isin(ids: _*))
    val sims = cf.select(col("tid").as("a"), col("tv").as("av"),
        col("t_nsq").as("ansq"))
      .crossJoin(cf.select(col("tid").as("b"), col("tv").as("bv"),
        col("t_nsq").as("bnsq")))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(expr("graft_dot(av, bv)") /
          sqrt(col("ansq") * col("bnsq")), 6).as("sim"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def simOf(x: Long, y: Long): Double =
      if (x < y) sims((x, y)) else sims((y, x))
    // degrade like the rest of the sim family: fewer than k candidates
    // selects what exists (an empty corpus selects nothing)
    val k = math.min(4, topCand.length)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    var remaining = topCand.sortBy { case (id, rel) => (-rel, id) }.toBuffer
    if (remaining.nonEmpty)
      selected += remaining.remove(0) // step 1: pure relevance
    while (selected.length < k) {
      val best = remaining.map { case (id, rel) =>
        val maxSim = selected.map(s => simOf(id, s._1)).max
        (id, rel, 0.5 * rel - 0.5 * maxSim)
      }.sortBy { case (id, _, sc) => (-sc, id) }.head
      selected += ((best._1, best._2))
      remaining = remaining.filterNot(_._1 == best._1)
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((tid, rel), i) => (i + 1, tid, rel) }
      .toDF("rank", "tid", "rel")
      .orderBy(col("rank"))
  }

  private val cosExpr =
    """SUM(CAST(q.qv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)) /
      |   sqrt(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
      |       * SUM(CAST(t.tv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)))""".stripMargin

  /** The fitted k-means centroids as DuckDB VALUES literals —
    * Double.toString is the shortest round-trip representation, so
    * DuckDB parses bit-identical coefficients and the whole IVF
    * probe/score/rank pipeline restates exactly over them. */
  private def centroidSqlValues(cents: Seq[(Int, Seq[Double])]): String =
    cents.sortBy(_._1).map { case (c, v) =>
      s"($c, [${v.map(_.toString).mkString(", ")}])"
    }.mkString(",\n  ")

  /** Oracle for the IVF family, available once [[ivfFit]] has run in
    * this process (Verify runs every query before dumping oracle SQL,
    * so the fit is always captured by then). The fit itself is taken
    * as given — restated as centroid literals — and everything
    * downstream is re-derived in SQL: cell assignment (argmin of
    * |c|² − 2x·c with (score, cell) tie-break, exactly the Spark
    * side's min(struct(score, cell))), the query-side nprobe nearest
    * cells, candidate generation by cell equality, cosine scoring,
    * and the (cos desc, tid asc) top-5 ranking. */
  private def ivfSql(nprobe: Int, tidWhere: String = ""): Option[String] =
    fittedCentroids.map { cents =>
      s"""WITH c(cell, cv) AS (VALUES
         |  ${centroidSqlValues(cents)}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |scores AS (
         | SELECT e.vec_id, c.cell,
         |  SUM(c.cv[i]*c.cv[i]
         |      - 2.0*CAST(e.embedding[i] AS DOUBLE)*c.cv[i]) AS score
         | FROM e, c, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, c.cell),
         |assigned AS (
         | SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM scores) WHERE rnc = 1),
         |probes AS (
         | SELECT vec_id AS qid, cell AS q_cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM scores WHERE vec_id < 20) WHERE rnc <= $nprobe),
         |q AS (SELECT p.qid, p.q_cell, e.embedding AS qv
         |  FROM probes p JOIN e ON e.vec_id = p.qid),
         |t AS (SELECT a.vec_id AS tid, a.cell AS t_cell,
         |   e.embedding AS tv
         |  FROM assigned a JOIN e ON e.vec_id = a.vec_id$tidWhere),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE t.t_cell = q.q_cell AND tid <> qid
         | GROUP BY qid, tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin
    }

  /** Oracle for [[semanticDedup]] — the IVF assignment CTEs verbatim,
    * then the intra-cell (earlier-id) self-join, cosine, ≥ 0.4 cut,
    * and the per-dropped-doc rollup. */
  private def semanticDedupSql: Option[String] =
    fittedCentroids.map { cents =>
      s"""WITH c(cell, cv) AS (VALUES
         |  ${centroidSqlValues(cents)}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |scores AS (
         | SELECT e.vec_id, c.cell,
         |  SUM(c.cv[i]*c.cv[i]
         |      - 2.0*CAST(e.embedding[i] AS DOUBLE)*c.cv[i]) AS score
         | FROM e, c, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, c.cell),
         |assigned AS (
         | SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM scores) WHERE rnc = 1),
         |v AS (SELECT a.vec_id, a.cell, e.embedding AS v
         |  FROM assigned a JOIN e ON e.vec_id = a.vec_id),
         |pairs AS (
         | SELECT x.vec_id AS d1, x.cell AS cell, y.vec_id AS d2,
         |  round(SUM(CAST(x.v[i] AS DOUBLE) * CAST(y.v[i] AS DOUBLE)) /
         |    sqrt(SUM(CAST(x.v[i] AS DOUBLE) * CAST(x.v[i] AS DOUBLE))
         |       * SUM(CAST(y.v[i] AS DOUBLE) * CAST(y.v[i] AS DOUBLE))),
         |    6) AS cos
         | FROM v x JOIN v y
         |   ON y.cell = x.cell AND y.vec_id < x.vec_id,
         |  UNNEST(range(1, len(x.v) + 1)) AS r(i)
         | GROUP BY x.vec_id, x.cell, y.vec_id)
         |SELECT d1 AS vec_id, cell, MIN(d2) AS kept_by,
         | MAX(cos) AS max_cos, COUNT(*) AS n_dups
         |FROM pairs WHERE cos >= 0.4
         |GROUP BY d1, cell ORDER BY vec_id""".stripMargin
    }

  /** The PQ codebooks as DuckDB VALUES literals — `(m, code, [cv...])`
    * rows, Double.toString shortest round-trip like the IVF
    * centroids. */
  private def codebookSqlValues(cb: Seq[(Int, Int, Seq[Double])]): String =
    cb.sortBy(c => (c._1, c._2)).map { case (m, c, v) =>
      s"($m, $c, [${v.map(_.toString).mkString(", ")}])"
    }.mkString(",\n  ")

  /** Oracle for [[pqAdc]]: the fit restates as codebook literals, then
    * encoding (per-(vector, subspace) argmin with (score, code)
    * tie-break), the per-query LUT, the ADC fold (Σ contrib,
    * Σ |centroid|²), the reconstructed cosine, and the (cos_hat desc,
    * tid asc) top-5 ranking are all re-derived in SQL. */
  private def pqSql: Option[String] =
    fittedPqCodebooks.map { cb =>
      s"""WITH c(m, code, cv) AS (VALUES
         |  ${codebookSqlValues(cb)}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |scores AS (
         | SELECT e.vec_id, c.m, c.code,
         |  round(SUM(c.cv[i]*c.cv[i]
         |      - 2.0*CAST(e.embedding[c.m*$PqSub + i] AS DOUBLE)*c.cv[i]),
         |    6) AS score
         | FROM e, c, UNNEST(range(1, $PqSub + 1)) AS r(i)
         | GROUP BY e.vec_id, c.m, c.code),
         |codes AS (
         | SELECT vec_id, m, code FROM (
         |  SELECT vec_id, m, code,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |     ORDER BY score, code) AS rnc
         |  FROM scores) WHERE rnc = 1),
         |cn AS (SELECT m, code, SUM(cv[i]*cv[i]) AS cnorm
         | FROM c, UNNEST(range(1, $PqSub + 1)) AS r(i) GROUP BY m, code),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e
         | WHERE vec_id < 20),
         |qn AS (SELECT qid,
         |  SUM(CAST(qv[i] AS DOUBLE)*CAST(qv[i] AS DOUBLE)) AS q_nsq
         | FROM q, UNNEST(range(1, len(qv) + 1)) AS r(i) GROUP BY qid),
         |lut AS (SELECT q.qid, c.m, c.code,
         |  SUM(CAST(q.qv[c.m*$PqSub + i] AS DOUBLE) * c.cv[i]) AS contrib
         | FROM q, c, UNNEST(range(1, $PqSub + 1)) AS r(i)
         | GROUP BY q.qid, c.m, c.code),
         |sc0 AS (SELECT l.qid, t.vec_id AS tid,
         |  SUM(l.contrib) AS adot, SUM(cn.cnorm) AS tn
         | FROM codes t
         | JOIN lut l ON l.m = t.m AND l.code = t.code
         | JOIN cn ON cn.m = t.m AND cn.code = t.code
         | WHERE t.vec_id <> l.qid
         | GROUP BY l.qid, t.vec_id),
         |scored AS (SELECT sc0.qid, tid,
         |  round(adot / sqrt(qn.q_nsq * tn), 6) AS cos_hat
         | FROM sc0 JOIN qn ON qn.qid = sc0.qid),
         |ranked AS (SELECT qid, tid, cos_hat,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos_hat DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos_hat, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin
    }

  /** Oracle for [[annIvfPq]] — the IVF assignment/probe CTEs and the
    * PQ code/LUT CTEs composed verbatim: candidates restrict to the
    * probed cells, ranking is the ADC cosine. Needs BOTH fits. */
  private def ivfPqSql(nprobe: Int): Option[String] =
    for (cents <- fittedCentroids; cb <- fittedPqCodebooks) yield
      s"""WITH ivfc(cell, cv) AS (VALUES
         |  ${centroidSqlValues(cents)}),
         |c(m, code, cv) AS (VALUES
         |  ${codebookSqlValues(cb)}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |cellscores AS (
         | SELECT e.vec_id, ivfc.cell,
         |  SUM(ivfc.cv[i]*ivfc.cv[i]
         |      - 2.0*CAST(e.embedding[i] AS DOUBLE)*ivfc.cv[i]) AS score
         | FROM e, ivfc, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, ivfc.cell),
         |assigned AS (
         | SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM cellscores) WHERE rnc = 1),
         |probes AS (
         | SELECT vec_id AS qid, cell AS q_cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM cellscores WHERE vec_id < 20) WHERE rnc <= $nprobe),
         |pqscores AS (
         | SELECT e.vec_id, c.m, c.code,
         |  round(SUM(c.cv[i]*c.cv[i]
         |      - 2.0*CAST(e.embedding[c.m*$PqSub + i] AS DOUBLE)*c.cv[i]),
         |    6) AS score
         | FROM e, c, UNNEST(range(1, $PqSub + 1)) AS r(i)
         | GROUP BY e.vec_id, c.m, c.code),
         |codes AS (
         | SELECT vec_id, m, code FROM (
         |  SELECT vec_id, m, code,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id, m
         |     ORDER BY score, code) AS rnc
         |  FROM pqscores) WHERE rnc = 1),
         |cn AS (SELECT m, code, SUM(cv[i]*cv[i]) AS cnorm
         | FROM c, UNNEST(range(1, $PqSub + 1)) AS r(i) GROUP BY m, code),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e
         | WHERE vec_id < 20),
         |qn AS (SELECT qid,
         |  SUM(CAST(qv[i] AS DOUBLE)*CAST(qv[i] AS DOUBLE)) AS q_nsq
         | FROM q, UNNEST(range(1, len(qv) + 1)) AS r(i) GROUP BY qid),
         |lut AS (SELECT q.qid, c.m, c.code,
         |  SUM(CAST(q.qv[c.m*$PqSub + i] AS DOUBLE) * c.cv[i]) AS contrib
         | FROM q, c, UNNEST(range(1, $PqSub + 1)) AS r(i)
         | GROUP BY q.qid, c.m, c.code),
         |sc0 AS (SELECT p.qid, t.vec_id AS tid,
         |  SUM(l.contrib) AS adot, SUM(cn.cnorm) AS tn
         | FROM codes t
         | JOIN assigned a ON a.vec_id = t.vec_id
         | JOIN probes p ON p.q_cell = a.cell
         | JOIN lut l ON l.qid = p.qid AND l.m = t.m AND l.code = t.code
         | JOIN cn ON cn.m = t.m AND cn.code = t.code
         | WHERE t.vec_id <> p.qid
         | GROUP BY p.qid, t.vec_id),
         |scored AS (SELECT sc0.qid, tid,
         |  round(adot / sqrt(qn.q_nsq * tn), 6) AS cos_hat
         | FROM sc0 JOIN qn ON qn.qid = sc0.qid),
         |ranked AS (SELECT qid, tid, cos_hat,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos_hat DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos_hat, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin

  /** Oracle for [[sampleClusterBalanced]]: the IVF assignment CTEs
    * verbatim, then per-cell counts, the integer min-mass rate, and
    * the folded-hash membership — all integer-exact. */
  private def clusterBalancedSql: Option[String] =
    fittedCentroids.map { cents =>
      s"""WITH c(cell, cv) AS (VALUES
         |  ${centroidSqlValues(cents)}),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |scores AS (
         | SELECT e.vec_id, c.cell,
         |  SUM(c.cv[i]*c.cv[i]
         |      - 2.0*CAST(e.embedding[i] AS DOUBLE)*c.cv[i]) AS score
         | FROM e, c, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, c.cell),
         |assigned AS (
         | SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell,
         |   ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY score, cell) AS rnc
         |  FROM scores) WHERE rnc = 1),
         |counts AS (SELECT cell, COUNT(*) AS n_total
         |  FROM assigned GROUP BY cell),
         |mm AS (SELECT MIN(n_total) AS m FROM counts),
         |rates AS (SELECT cell, n_total,
         |  m * 1000000 // n_total AS rate_ppm FROM counts, mm)
         |SELECT a.cell, r.n_total, CAST(r.rate_ppm AS BIGINT) AS rate_ppm,
         | CAST(SUM(CASE WHEN
         |   a.vec_id % 2147483648 * 2654435761 % 4294967296 % 1000000
         |   < r.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM assigned a JOIN rates r USING (cell)
         |GROUP BY a.cell, r.n_total, r.rate_ppm
         |ORDER BY a.cell""".stripMargin
    }

  /** A def, not a val: the IVF entries join the map only after the fit
    * has run (SparkEntry.oracleSql is assembled at dump time). */
  def sql: Map[String, String] =
    baseSql ++
      clusterBalancedSql.map(s => Map("sample_cluster_balanced" -> s))
        .getOrElse(Map.empty) ++
      pqSql.map(s => Map("sim_pq_adc" -> s)).getOrElse(Map.empty) ++
      ivfPqSql(3).map(s => Map("sim_ann_ivfpq" -> s)).getOrElse(Map.empty) ++
      semanticDedupSql.map(s => Map("dedup_semantic" -> s))
        .getOrElse(Map.empty) ++
      ivfSql(1).map(s => Map(
        "sim_ann_ivf" -> s,
        // the indexed/incremental variants' contract IS
        // result-equality with sim_ann_ivf (same centroids, scoring,
        // tie-breaks) — one oracle covers all three pipelines
        "sim_ann_ivf_indexed" -> s,
        "sim_ann_ivf_incremental" -> s)).getOrElse(Map.empty) ++
      ivfSql(3).map(s => Map("sim_ann_ivf_multiprobe" -> s))
        .getOrElse(Map.empty) ++
      // the DV DELETE masks the retired slice; everything else is the
      // sim_ann_ivf pipeline verbatim
      ivfSql(1, " WHERE a.vec_id % 7 <> 3")
        .map(s => Map("sim_ann_ivf_delete" -> s)).getOrElse(Map.empty)

  private val baseSql: Map[String, String] = Map(
    "sim_matryoshka_rerank" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM e
         | WHERE vec_id < 20),
         |t AS (SELECT vec_id AS tid, embedding AS tv FROM e),
         |pc AS (SELECT q.qid, t.tid,
         |  round(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE)) /
         |    sqrt(SUM(CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))
         |       * SUM(CAST(t.tv[i] AS DOUBLE) * CAST(t.tv[i] AS DOUBLE))),
         |    6) AS pcos
         | FROM q, t, UNNEST(range(1, 17)) AS r(i)
         | WHERE t.tid <> q.qid
         | GROUP BY q.qid, t.tid),
         |cand AS (SELECT qid, tid FROM (
         |  SELECT qid, tid, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY pcos DESC, tid ASC) AS crn FROM pc)
         |  WHERE crn <= 20),
         |sc AS (SELECT q.qid, t.tid, round($cosExpr, 6) AS cos
         | FROM cand c JOIN q ON q.qid = c.qid JOIN t ON t.tid = c.tid,
         |  UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | GROUP BY q.qid, t.tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos DESC, tid ASC) AS INT) AS rn FROM sc)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "vec_quantize_int8" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings),
        |u AS (SELECT vec_id, mn, mx, CAST(x AS DOUBLE) AS xd,
        |   CAST(floor((CAST(x AS DOUBLE) - mn)/((mx - mn)/255.0) + 0.5) AS BIGINT) AS q
        |  FROM s, UNNEST(s.embedding) AS t(x)
        |  WHERE mx > mn),
        |r AS (SELECT vec_id, mn, mx,
        |  round(MAX(abs(mn + q*((mx - mn)/255.0) - xd)), 6) AS max_err,
        |  CAST(SUM(q) AS BIGINT) AS q_sum
        | FROM u GROUP BY 1,2,3)
        |SELECT vec_id, round(mn,6) AS qmin, round(mx,6) AS qmax,
        | max_err, q_sum
        |FROM r ORDER BY vec_id""".stripMargin,
    "sim_hybrid_search" ->
      s"""WITH dl AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
         |ad AS (SELECT CAST(SUM(CAST(dl AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*)
         |  AS avgdl FROM dl),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |t0 AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
         |  FROM documents),
         |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM t0
         |  WHERE word IN ('hash','join','scan') GROUP BY 1,2),
         |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
         |s AS (SELECT doc_id, word,
         |  ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) *
         |  (tf * 2.2)/(tf + 1.2*(1.0 - 0.75 + 0.75*dl/avgdl)) AS sc
         | FROM tf JOIN df USING(word) JOIN dl USING(doc_id), ad, n),
         |bm AS (SELECT doc_id,
         | round(SUM(CASE WHEN word='hash' THEN sc ELSE 0.0 END)
         |  + SUM(CASE WHEN word='join' THEN sc ELSE 0.0 END)
         |  + SUM(CASE WHEN word='scan' THEN sc ELSE 0.0 END), 6) AS bm25
         |FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20),
         |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |t AS (SELECT vec_id, embedding AS tv FROM embeddings),
         |cosd AS (SELECT doc_id, bm25,
         | round($cosExpr, 6) AS cos
         | FROM bm JOIN t ON doc_id = vec_id, q,
         |  UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | GROUP BY doc_id, bm25)
         |SELECT doc_id, bm25, cos, round(0.1*bm25 + cos, 6) AS hybrid
         |FROM cosd ORDER BY hybrid DESC, doc_id LIMIT 10""".stripMargin,
    "sim_ann_lsh" ->
      s"""WITH pl(pi, pv) AS (VALUES
         |  $planesSqlValues),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |dots AS (
         | SELECT e.vec_id, pl.pi,
         |  SUM(CAST(e.embedding[i] AS DOUBLE) * pl.pv[i]) AS d
         | FROM e, pl, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, pl.pi),
         |bucket AS (
         | SELECT vec_id,
         |  CAST(SUM(CASE WHEN d >= 0 THEN 1 << pi ELSE 0 END) AS BIGINT)
         |    AS bucket
         | FROM dots GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket AS qb
         |  FROM e JOIN bucket b ON e.vec_id = b.vec_id
         |  WHERE e.vec_id < 20),
         |t AS (SELECT e.vec_id AS tid, e.embedding AS tv, b.bucket AS tb
         |  FROM e JOIN bucket b ON e.vec_id = b.vec_id),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE tb = qb AND tid <> qid GROUP BY qid, tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "sim_ann_lsh_multiprobe" ->
      s"""WITH pl(pi, pv) AS (VALUES
         |  $planesSqlValues),
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |dots AS (
         | SELECT e.vec_id, pl.pi,
         |  SUM(CAST(e.embedding[i] AS DOUBLE) * pl.pv[i]) AS d
         | FROM e, pl, UNNEST(range(1, len(e.embedding) + 1)) AS r(i)
         | GROUP BY e.vec_id, pl.pi),
         |bucket AS (
         | SELECT vec_id,
         |  CAST(SUM(CASE WHEN d >= 0 THEN 1 << pi ELSE 0 END) AS BIGINT)
         |    AS bucket
         | FROM dots GROUP BY vec_id),
         |q AS (SELECT e.vec_id AS qid, e.embedding AS qv, b.bucket AS qb
         |  FROM e JOIN bucket b ON e.vec_id = b.vec_id
         |  WHERE e.vec_id < 20),
         |t AS (SELECT e.vec_id AS tid, e.embedding AS tv, b.bucket AS tb
         |  FROM e JOIN bucket b ON e.vec_id = b.vec_id),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE bit_count(xor(tb::UBIGINT, qb::UBIGINT)) <= 1
         |   AND tid <> qid
         | GROUP BY qid, tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "sim_ann_filtered" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS q_label
         |  FROM embeddings WHERE vec_id < 20),
         |t AS (SELECT vec_id AS tid, embedding AS tv, label AS t_label
         |  FROM embeddings),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE t_label = q_label AND tid <> qid GROUP BY qid, tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "sim_decontam_semantic" ->
      s"""WITH q AS (SELECT vec_id AS pid, embedding AS qv FROM embeddings
         |  WHERE vec_id % 97 = 0),
         |t AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings
         |  WHERE vec_id % 97 <> 0),
         |scored AS (
         | SELECT tid, pid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | GROUP BY tid, pid),
         |hits AS (SELECT * FROM scored WHERE cos >= 0.4),
         |rk AS (SELECT tid, pid, cos,
         |  ROW_NUMBER() OVER (PARTITION BY tid
         |    ORDER BY cos DESC, pid ASC) AS rn,
         |  COUNT(*) OVER (PARTITION BY tid) AS nh
         | FROM hits)
         |SELECT tid, pid AS nearest_probe, cos AS max_cos,
         | CAST(nh AS BIGINT) AS n_hits
         |FROM rk WHERE rn = 1 ORDER BY tid""".stripMargin,
    "sim_mmr_rerank" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |tt AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings
         |  WHERE vec_id <> 0),
         |relt AS (
         | SELECT tid, round($cosExpr, 6) AS rel
         | FROM q, tt AS t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | GROUP BY tid),
         |cand AS (SELECT tid, rel FROM relt ORDER BY rel DESC, tid LIMIT 8),
         |pair AS (
         | SELECT a.tid AS x, b.tid AS y,
         |  round(SUM(CAST(a.tv[i] AS DOUBLE) * CAST(b.tv[i] AS DOUBLE)) /
         |    sqrt(SUM(CAST(a.tv[i] AS DOUBLE) * CAST(a.tv[i] AS DOUBLE))
         |       * SUM(CAST(b.tv[i] AS DOUBLE) * CAST(b.tv[i] AS DOUBLE))),
         |    6) AS sim
         | FROM (SELECT tt.* FROM tt JOIN cand USING (tid)) a,
         |      (SELECT tt.* FROM tt JOIN cand USING (tid)) b,
         |      UNNEST(range(1, len(a.tv) + 1)) AS r(i)
         | WHERE a.tid < b.tid GROUP BY x, y),
         |psym AS (SELECT x, y, sim FROM pair
         |  UNION ALL SELECT y, x, sim FROM pair),
         |s1 AS (SELECT tid, rel FROM cand ORDER BY rel DESC, tid LIMIT 1),
         |r2 AS (SELECT c.tid, c.rel,
         |   0.5*c.rel - 0.5*(SELECT MAX(p.sim) FROM psym p
         |     WHERE p.x = c.tid AND p.y IN (SELECT tid FROM s1)) AS score
         |  FROM cand c WHERE c.tid NOT IN (SELECT tid FROM s1)),
         |s2 AS (SELECT tid, rel FROM r2 ORDER BY score DESC, tid LIMIT 1),
         |sel2 AS (SELECT tid FROM s1 UNION ALL SELECT tid FROM s2),
         |r3 AS (SELECT c.tid, c.rel,
         |   0.5*c.rel - 0.5*(SELECT MAX(p.sim) FROM psym p
         |     WHERE p.x = c.tid AND p.y IN (SELECT tid FROM sel2)) AS score
         |  FROM cand c WHERE c.tid NOT IN (SELECT tid FROM sel2)),
         |s3 AS (SELECT tid, rel FROM r3 ORDER BY score DESC, tid LIMIT 1),
         |sel3 AS (SELECT tid FROM sel2 UNION ALL SELECT tid FROM s3),
         |r4 AS (SELECT c.tid, c.rel,
         |   0.5*c.rel - 0.5*(SELECT MAX(p.sim) FROM psym p
         |     WHERE p.x = c.tid AND p.y IN (SELECT tid FROM sel3)) AS score
         |  FROM cand c WHERE c.tid NOT IN (SELECT tid FROM sel3)),
         |s4 AS (SELECT tid, rel FROM r4 ORDER BY score DESC, tid LIMIT 1)
         |SELECT 1 AS rank, tid, rel FROM s1
         |UNION ALL SELECT 2, tid, rel FROM s2
         |UNION ALL SELECT 3, tid, rel FROM s3
         |UNION ALL SELECT 4, tid, rel FROM s4
         |ORDER BY rank""".stripMargin,
    "sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |t AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE tid <> qid GROUP BY qid, tid),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM scored)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "sim_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 16),
         |t AS (SELECT vec_id AS tid, embedding AS tv FROM embeddings),
         |pos AS (SELECT vec_id % 211 AS pqid, vec_id AS ptid
         |  FROM embeddings WHERE vec_id % 211 < 16),
         |scored AS (
         | SELECT qid, tid, round($cosExpr, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE tid <> qid GROUP BY qid, tid),
         |neg AS (
         | SELECT s.qid, s.tid, s.cos FROM scored s
         | ANTI JOIN pos p ON s.qid = p.pqid AND s.tid = p.ptid
         | WHERE s.cos <= 0.98),
         |ranked AS (SELECT qid, tid, cos,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS INT) AS rn
         | FROM neg)
         |SELECT qid, tid, cos, rn FROM ranked WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,
    "sim_cosine_neardup" ->
      s"""WITH q AS (SELECT vec_id AS d1, embedding AS qv FROM embeddings),
         |t AS (SELECT vec_id AS d2, embedding AS tv FROM embeddings),
         |scored AS (
         | SELECT d1, d2, round(${cosExpr.replace("q.qv", "q.qv").replace("t.tv", "t.tv")}, 6) AS cos
         | FROM q, t, UNNEST(range(1, len(t.tv) + 1)) AS r(i)
         | WHERE d1 < d2 GROUP BY d1, d2)
         |SELECT d1, d2, cos FROM scored WHERE cos >= 0.4
         |ORDER BY d1, d2""".stripMargin,
    "agg_vector_mean_udaf" ->
      """SELECT label,
        | round(SUM(CAST(embedding[1] AS DOUBLE)) / COUNT(*), 6) AS m0,
        | round(SUM(CAST(embedding[2] AS DOUBLE)) / COUNT(*), 6) AS m1,
        | round(SUM(CAST(embedding[3] AS DOUBLE)) / COUNT(*), 6) AS m2
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "sim_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        | round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 6) AS mean
        |FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS r(i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin)
}
