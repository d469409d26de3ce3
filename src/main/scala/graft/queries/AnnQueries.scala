package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions.cosineSimilarity
import graft.queries.SimilarityQueries.{duckDot, duckL2Full, duckQuantizedCtes, hyperplaneSig, hyperplaneSigSql8, norm2, quantized}

/** SURVEY §2.4 ANN retrieval, quantization serving, and their quality
  * evals, split out of [[SimilarityQueries]] (r15 — that file had grown to
  * ~4k lines): brute-force truth (similarity_topk), hyperplane LSH, IVF
  * (seed / L2-trained / spherical-trained coarse quantizers), PQ — raw,
  * trained-residual IVFADC, and the two-stage exact re-rank — plus the
  * recall / MRR / NDCG / MAP / RBO eval deck measuring exactly the gated
  * retrievers. Shared float-parity helpers (the proven fold pairs) and the
  * near-dup/cluster/audit surface stay in [[SimilarityQueries]]; this file
  * imports them so both decks provably hash embeddings identically.
  *
  * All scale/float-parity doctrine is unchanged from the original file:
  * codebooks/centroids broadcast, encode = map-side min(struct) argmin,
  * ADC = broadcast table-lookup join, never all-pairs.
  */
object AnnQueries {

  /** Lineage truncation — see [[Q.truncate]]. */
  private def truncate(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Q.truncate(df)

  private[queries] val NumQueries = 5
  private[queries] val TopK = 10
  // hard_negatives: the rank band (TopK, NegHi] just below the retrieval top-k
  private val NegHi = 30

  /** The 16 deterministic IVF coarse centroids (the first 16 vectors — the
    * kmeans codebook convention). */
  private[graft] def ivfCentroids(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"))

  /** IVF inverted-list assignment `(cid, cv, list_id)` — every vector to
    * its nearest centroid. SHARED (r8) by ivf_topk and the ivf_balance
    * audit so the audit provably measures the retriever's own lists.
    * Argmax as a min(struct(−csim, cent_id)) aggregate (r5): the
    * 16-centroid product collapses map-side instead of shuffling 16 rows
    * per vector into a window sort; double negation is exact, so the
    * (csim desc, cent_id asc) tie-break matches the oracle's ROW_NUMBER
    * bit-for-bit. A NULL csim (zero-norm centroid under LEGACY cosine)
    * must sort LAST like the replaced window's desc-nulls-last — structs
    * order NULL fields FIRST, so coalesce to +∞ keeps null-sim centroids
    * from ever winning the argmin. first(cv) is deterministic: one cv per
    * cid group by construction. */
  private[graft] def ivfLists(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ivfListsN(emb, 16)

  /** [[ivfLists]] with a parameterized list count (r10): the 100 TB
    * re-shard dial — n_lists scales with corpus size to hold n/L constant,
    * so within-list pair work stays (n/L)²·L = n²/L. The registry's
    * retriever keeps L = 16 (right for the gate corpus); `graft
    * .ReshardCheck` measures the re-shard at the sf10 decade.
    *
    * r15 optimization (guide §2.4): the assignment is a MAP-ONLY
    * [[graft.functions.VectorArgmin]] projection against the ONE-ROW
    * collected centroid array, replacing crossJoin(16-row broadcast) →
    * groupBy(cid) → min(struct(−csim, cent_id)). The old form paid a 16×
    * fan-out plus a corpus-sized Sort+Exchange+SortAggregate pair (struct
    * min is not hash-aggregable); the new form never shuffles the corpus
    * at all. Same argmin bit-for-bit: the expression folds cosine exactly
    * like [[cosineSimilarity]], maps NULL→+∞ like the old coalesce, and
    * breaks score ties by ascending cent_id like the old struct order
    * (cands sorted by id; strict-< keeps the first). The isNotNull filter
    * reproduces the old crossJoin-with-empty-broadcast behavior (zero
    * rows) on an empty centroid set. */
  private[graft] def ivfListsN(emb: org.apache.spark.sql.DataFrame, nLists: Int): org.apache.spark.sql.DataFrame = {
    val cands = emb.filter(col("vec_id") < nLists)
      .agg(sort_array(collect_list(struct(
        col("vec_id").cast("long").as("id"), col("embedding").as("centv")))).as("cands"))
    emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .crossJoin(broadcast(cands))
      .select(col("cid"), col("cv"),
        graft.functions.VectorFunctions.argminNegCos(col("cands"), col("cv")).as("m"))
      .filter(col("m").isNotNull)
      .select(col("cid"), col("cv"), col("m.id").as("list_id"))
  }

  /** knn_label_consistency's body with a parameterized list count — the
    * registry query is `knnConsistencyFrom(emb, 16)` verbatim, so the
    * re-shard measurement provably times the production operator. */
  private[graft] def knnConsistencyFrom(emb: org.apache.spark.sql.DataFrame, nLists: Int): org.apache.spark.sql.DataFrame = {
    val withLab = ivfListsN(emb, nLists)
      .join(emb.select(col("vec_id").as("cid"), col("label")), Seq("cid"))
    val a = withLab.select(col("list_id"), col("cid").as("a_id"),
      col("cv").as("va"), col("label").as("la"))
    val b = withLab.select(col("list_id"), col("cid").as("b_id"),
      col("cv").as("vb"), col("label").as("lb"))
    val nn = a.join(b, Seq("list_id")).filter(col("a_id") =!= col("b_id"))
      .withColumn("d2",
        graft.functions.VectorFunctions.floatL2Sq(col("va"), col("vb")))
      .groupBy(col("a_id"), col("la"))
      .agg(min(struct(col("d2"), col("b_id"), col("lb"))).as("m"))
      .select(col("la").as("label"),
        when(col("la") === col("m.lb"), 1L).otherwise(0L).as("agree"))
    nn.groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("agree")).as("nn_agree"))
      .select(col("label"), col("n"), col("nn_agree"),
        (col("nn_agree").cast("double") / col("n").cast("double"))
          .as("consistency"))
      .orderBy("label")
  }

  private[queries] def duckCosSql(a: String, b: String) =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** Oracle twin of [[ivfLists]] — `cents` + `lists` CTE text, shared by
    * ivf_topk and ivf_balance. */
  private[queries] def ivfListsSql: String =
    s"""cents AS (SELECT vec_id AS cent_id, embedding AS centv FROM embeddings WHERE vec_id < 16),
       |lists AS (
       |  SELECT cid, cv, cent_id AS list_id FROM (
       |    SELECT e.vec_id AS cid, e.embedding AS cv, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${duckCosSql("e.embedding", "c.centv")} DESC, c.cent_id) AS crk
       |    FROM embeddings e CROSS JOIN cents c) t
       |  WHERE crk = 1)""".stripMargin

  /** Parametrized IVF retrieval leg for the probe-count tuning curve
    * (added r9): ivf_topk's EXACT plan with `nprobe` probed lists instead
    * of the fixed 4 — shares [[ivfLists]]/[[ivfCentroids]] so every curve
    * point measures the production index. Returns (qid, cid) of the
    * top-[[TopK]] per query. */
  private[queries] def ivfProbeLeg(s: org.apache.spark.sql.SparkSession, dir: String, nprobe: Int): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val cents = ivfCentroids(emb)
    val lists = ivfLists(emb)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("psim").desc, col("cent_id"))
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("psim", cosineSimilarity(col("qv"), col("centv")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= nprobe)
      .select(col("qid"), col("qv"), col("cent_id").as("list_id"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    probes.join(lists, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("cid"))
  }

  /** Oracle twin of [[ivfProbeLeg]]: CTE `ap_$np (qid, cid)` — assumes
    * [[ivfListsSql]]'s `cents`/`lists` CTEs are already in scope. */
  private[queries] def ivfProbeSql(np: Int): String =
    s"""pr_$np AS (
       |  SELECT qid, qv, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${duckCosSql("q.embedding", "c.centv")} DESC, c.cent_id) AS prk
       |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NumQueries) t
       |  WHERE prk <= $np),
       |ap_$np AS (
       |  SELECT qid, cid FROM (
       |    SELECT qid, cid,
       |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ${duckCosSql("p.qv", "l.cv")} DESC, cid) AS rk
       |    FROM pr_$np p JOIN lists l ON p.list_id = l.list_id
       |    WHERE qid != cid) t
       |  WHERE rk <= $TopK)""".stripMargin

  /** Shortlist depth for the two-stage IVF-PQ refine (top-50 by ADC →
    * exact re-rank → top-10): 5× the serving k, the classic refine ratio. */
  private[queries] val RefineShortlist = 50

  /** The coarse probe set (qid, list_id): each query's 4 nearest IVF lists
    * by cosine (ivf_topk's spelling; 5×16 broadcast product). Extracted
    * r14 so [[ivfPqAdcDist]] and the residual-PQ dist share ONE probe
    * builder — the two retrievers provably probe the same lists. */
  private[queries] def ivfProbes(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ivfProbesFrom(
      emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")),
      ivfCentroids(emb))

  /** [[ivfProbes]] over PREPARED query `(qid, qv)` and centroid `(cent_id,
    * centv)` frames — factored r15 so the PERSISTED-index serving path
    * (AnnIndexQueries.ivf_pq_served_topk, which loads centroids from
    * parquet) provably probes with the in-plan retrievers' own stage. */
  private[queries] def ivfProbesFrom(
      q: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("psim").desc, col("cent_id"))
    broadcast(q).crossJoin(broadcast(cents))
      .withColumn("psim", cosineSimilarity(col("qv"), col("centv")))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= 4)
      .select(col("qid"), col("cent_id").as("list_id"))
  }

  /** The IVF-PQ candidate frame (qid, cid, adist): coarse-probe prune (4
    * nearest lists, ivf_topk's spelling) + PQ asymmetric-distance rank
    * (pq_topk's spelling) — the shared stage beneath ivf_pq_topk (rank,
    * cut at k) and ivf_pq_refined_topk (shortlist, exact re-rank), so the
    * two retrievers provably score candidates identically. */
  private def ivfPqAdcDist(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    ivfPqAdcDistFrom(emb, ivfLists(emb).select("cid", "list_id"), ivfProbes(emb))
  }

  /** [[ivfPqAdcDist]] over PREPARED coarse frames — recall_pq_family
    * derives (lists, probes) ONCE and feeds every leg (r14: the eval's
    * legs otherwise re-run the corpus-sized ivfLists argmin per leg — the
    * r13 ADVICE shared-frame rule). The registry query passes freshly
    * built frames, so its plan is unchanged. */
  private[queries] def ivfPqAdcDistFrom(
      emb: org.apache.spark.sql.DataFrame,
      lists: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def l2(a: String, b: String): Column =
      graft.functions.VectorFunctions.floatL2Sq(col(a), col(b))
    def subspaces(src: org.apache.spark.sql.DataFrame, idCol: String, subName: String) =
      src.select(col("vec_id").as(idCol),
          explode(sequence(lit(0), lit(7))).as("j"), col("embedding"))
        .select(col(idCol), col("j"),
          expr("slice(embedding, int(j * 8 + 1), 8)").as(subName))
    // PQ side: codes + ADC table (pq_topk's spelling). r15: the encode
    // argmin is the map-only VectorArgmin against the 8-row per-subspace
    // collected codebook (see ivfListsN's optimization note) — the corpus
    // shuffle of the old groupBy(cid, j) min(struct) is gone; the argmin
    // bits are unchanged (same floatL2Sq fold, same (d2, cent_id) order).
    val pqcents = subspaces(emb.filter(col("vec_id") < 16), "cent_id", "centv")
    val pqcands = pqcents.groupBy("j")
      .agg(sort_array(collect_list(struct(
        col("cent_id").cast("long").as("id"), col("centv")))).as("cands"))
    val codes = subspaces(emb, "cid", "subv")
      .join(broadcast(pqcands), Seq("j"))
      .select(col("cid"), col("j"),
        graft.functions.VectorFunctions.argminL2(col("cands"), col("subv")).as("m"))
      .select(col("cid"), col("j"), col("m.id").as("code"))
    val adc = subspaces(emb.filter(col("vec_id") < NumQueries), "qid", "qsubv")
      .join(broadcast(pqcents), Seq("j"))
      .select(col("qid"), col("j"), col("cent_id").as("code"),
        Q.grid6(l2("qsubv", "centv")).cast("decimal(16,6)").as("qd2"))
    // probe-pruned candidates ranked by ADC
    val cand = probes.join(lists, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"))
    cand.join(codes, Seq("cid"))
      .join(broadcast(adc), Seq("qid", "j", "code"))
      .groupBy("qid", "cid").agg(sum(col("qd2")).as("adist"))
  }

  /** ivf_pq_topk's tail over a (qid, cid, adist) frame: per-query top-k by
    * ADC. Factored out (r14, ADVICE item 2) so recall_pq_family can feed
    * it a Q.truncate'd [[ivfPqAdcDist]] instead of re-deriving the heavy
    * shared frame per leg; the registry query is
    * `ivfPqRankTopk(ivfPqAdcDist(s, dir))` verbatim. */
  private[queries] def ivfPqRankTopk(dist: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    dist.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("cid"),
        col("adist").cast("double").as("adist"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** ivf_pq_refined_topk's tail over a (qid, cid, adist) frame: ADC
    * shortlist (top-[[RefineShortlist]]) → exact-cosine re-rank → top-k.
    * Factored out with [[ivfPqRankTopk]] (r14) for the same shared-frame
    * reason; the registry query is
    * `ivfPqRefineTopk(s, dir, ivfPqAdcDist(s, dir))` verbatim. */
  private[queries] def ivfPqRefineTopk(
      s: org.apache.spark.sql.SparkSession, dir: String,
      dist: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    val short = dist
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= RefineShortlist)
      .select(col("qid"), col("cid"))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val rr = short
      .join(emb.select(col("vec_id").as("cid"), col("embedding").as("cv")),
        Seq("cid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    rr.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** Oracle twin of [[ivfPqAdcDist]] — CTE text ending in `dist(qid, cid,
    * adist)`, nested by ivf_pq_topk and ivf_pq_refined_topk. */
  private def ivfPqDistSql: String = {
    def duckL2(a: String, b: String) =
      s"""list_reduce(list_transform(range(1, 9),
         |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""$ivfListsSql,
       |probes AS (
       |  SELECT qid, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS qid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${duckCosSql("q.embedding", "c.centv")} DESC, c.cent_id) AS prk
       |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NumQueries) t
       |  WHERE prk <= 4),
       |js AS (SELECT UNNEST(range(8)) AS j),
       |pqcents AS (SELECT vec_id AS cent_id, j, embedding[j*8+1 : j*8+8] AS centv
       |            FROM embeddings, js WHERE vec_id < 16),
       |vecs AS (SELECT vec_id AS cid, j, embedding[j*8+1 : j*8+8] AS subv
       |         FROM embeddings, js),
       |pqcodes AS (
       |  SELECT cid, j, cent_id AS code FROM (
       |    SELECT v.cid, v.j, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY v.cid, v.j
       |                              ORDER BY ${duckL2("v.subv", "c.centv")}, c.cent_id) AS crk
       |    FROM vecs v JOIN pqcents c ON v.j = c.j) t
       |  WHERE crk = 1),
       |pqadc AS (
       |  SELECT q.cid AS qid, q.j, c.cent_id AS code,
       |         CAST(floor((${duckL2("q.subv", "c.centv")}) * 1000000.0) / 1000000.0
       |              AS DECIMAL(16,6)) AS qd2
       |  FROM vecs q JOIN pqcents c ON q.j = c.j WHERE q.cid < $NumQueries),
       |cand AS (
       |  SELECT p.qid, l.cid FROM probes p JOIN lists l ON p.list_id = l.list_id
       |  WHERE p.qid != l.cid),
       |dist AS (
       |  SELECT d.qid, d.cid, SUM(a.qd2) AS adist
       |  FROM cand d JOIN pqcodes k ON k.cid = d.cid
       |  JOIN pqadc a ON a.qid = d.qid AND a.j = k.j AND a.code = k.code
       |  GROUP BY d.qid, d.cid)""".stripMargin
  }

  // ------------------------------------------------------------------
  // Trained residual PQ — the real IVFADC (r14, VERDICT item 1).
  // Jégou, Douze & Schmid 2011 §IV: PQ codebooks are k-means-TRAINED per
  // subspace, and what gets encoded is the RESIDUAL v − c(v) w.r.t. the
  // vector's coarse IVF centroid, not the raw vector — residuals are
  // near-zero-centered with far less variance than raw vectors, which is
  // where most of the raw-ADC recall loss (0.36 at r13) comes from.
  // ------------------------------------------------------------------

  /** Per-subspace residual slices (cid, list_id, j, rsub: array<double>):
    * every vector's residual against its OWN coarse centroid (the shared
    * gated [[ivfLists]] assignment, so the residual space is exactly the
    * retriever's), split into the 8 PQ subspaces. Float parity: each
    * residual component is CAST(float→double) − CAST(float→double) — one
    * correctly-rounded IEEE subtract of exact casts, bit-identical on
    * both engines. */
  private[queries] def pqResidualSub(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    pqResidualSubFrom(ivfLists(emb), ivfCentroids(emb))
  }

  /** [[pqResidualSub]] over a PREPARED full (cid, cv, list_id) coarse
    * assignment + (cent_id, centv) codebook — recall_pq_family shares ONE
    * truncated ivfLists across its legs (r14). */
  private[queries] def pqResidualSubFrom(
      listsFull: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val resid = listsFull
      .join(broadcast(cents), col("list_id") === col("cent_id"))
      .select(col("cid"), col("list_id"),
        expr("zip_with(cv, centv, (a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))")
          .as("r"))
    resid.select(col("cid"), col("list_id"),
        explode(sequence(lit(0), lit(7))).as("j"), col("r"))
      .select(col("cid"), col("list_id"), col("j"),
        expr("slice(r, int(j * 8 + 1), 8)").as("rsub"))
  }

  /** Lloyd rounds per subspace for the trained residual codebooks: 2 —
    * each round is one corpus pass (the honest cost of k-means at 100 TB;
    * kmeans_train's precedent runs 3 on full vectors). */
  private[queries] val PqTrainRounds = 2

  /** Per-subspace k-means training over the residuals: returns (codebook
    * (j, code, centv array<double>), final update table (j, code, dim,
    * n_members, s6)). All 8 subspaces train in ONE frame with `j` as a
    * grouping key — 8 parallel Lloyd runs per round, not 8 sequential
    * jobs. Init codewords are the residual slices of vec_id 16..31 (the
    * first 16 vectors ARE the coarse centroids, so their residuals are
    * identically zero — seeding from them would collapse every codebook
    * to one point; the next 16 vectors are the deterministic non-
    * degenerate choice). Float discipline is kmeans_train's verbatim:
    * assignment argmin via min(struct(d2, code)) with the NULLS-LAST
    * coalesce (map-side combine — one row per (cid, j) reaches the
    * shuffle), update means as CAST(exact-DECIMAL grid6 sum AS DOUBLE)/n
    * — one correctly-rounded division — so every number feeding round
    * k+1 is bit-identical cross-engine. A codeword that loses all
    * members in a round drops out of the codebook on BOTH engines (the
    * GROUP BY simply has no row) — deterministic, and the audit for it
    * is pq_code_usage's codes_used column. */
  private def pqResidualTrain(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    pqResidualTrainFrom(truncate(pqResidualSub(s, dir)))

  /** Init codebook: residual slices of vec_id 16..31 (see
    * [[pqResidualTrainFrom]]'s doc for why not 0..15). */
  private[queries] def pqResidualInitCb(rsub: org.apache.spark.sql.DataFrame,
      initLo: Int = 16)
      : org.apache.spark.sql.DataFrame =
    rsub.filter(col("cid") >= initLo && col("cid") < initLo + 16)
      .select(col("j"), (col("cid") - initLo).cast("int").as("code"),
        col("rsub").as("centv"))

  /** The 8-row per-subspace collected-codebook frame (j, cands) feeding
    * [[graft.functions.VectorFunctions.argminL2]] — the r15 map-only
    * encode path shared by the Lloyd rounds, the final encoders, and the
    * distortion audits, so every consumer provably assigns with the same
    * argmin (see ivfListsN's optimization note for the equivalence
    * argument). */
  private[queries] def cbCands(cb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cb.groupBy("j")
      .agg(sort_array(collect_list(struct(
        col("code").cast("long").as("id"), col("centv")))).as("cands"))

  /** [[pqResidualTrain]] over a PREPARED (ideally Q.truncate'd) residual
    * frame — rsub feeds every Lloyd round plus the callers' encode stage,
    * so materializing it once saves [[PqTrainRounds]] re-derivations of
    * the coarse-assign chain (the r12 multi-branch rule). */
  private[queries] def pqResidualTrainFrom(rsub: org.apache.spark.sql.DataFrame,
      initLo: Int = 16)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    var cb = pqResidualInitCb(rsub, initLo)
    var update: org.apache.spark.sql.DataFrame = null
    for (_ <- 1 to PqTrainRounds) {
      val assigned = rsub.join(broadcast(cbCands(cb)), Seq("j"))
        .select(col("j"),
          graft.functions.VectorFunctions.argminL2(col("cands"), col("rsub"))
            .getField("id").cast("int").as("code"),
          col("rsub"))
      update = assigned
        .select(col("j"), col("code"), posexplode(col("rsub")).as(Seq("dim", "v")))
        .groupBy("j", "code", "dim")
        .agg(count(lit(1)).as("n_members"),
          sum(Q.grid6(col("v")).cast("decimal(16,6)")).as("s6"))
      cb = update
        .withColumn("m",
          col("s6").cast("decimal(20,6)").cast("double") / col("n_members"))
        .groupBy(col("j"), col("code"))
        .agg(expr("transform(array_sort(collect_list(struct(dim, m))), x -> x.m)")
          .as("centv"))
    }
    (cb, update)
  }

  /** 8-dim L2² over already-double sublists — the oracle spelling of the
    * codegen'd VectorL2Sq fold on residual slices. */
  private[queries] def duckL2Res(a: String, b: String) =
    s"""list_reduce(list_transform(range(1, 9),
       |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
       |  (acc, v) -> acc + v)""".stripMargin

  /** Oracle twin of [[pqResidualSub]] + [[pqResidualTrain]] — CTE text
    * from `cents`/`lists` (nests [[ivfListsSql]]) through the trained
    * codebook `cb$PqTrainRounds` and final update `u$PqTrainRounds`.
    * Round CTEs are MATERIALIZED (the r13 chained-CTE rule: DuckDB
    * otherwise inlines the chain exponentially). */
  /** The [[PqTrainRounds]]-round per-subspace Lloyd chain as CTE text,
    * PREFIX-parameterized (r15): sources `${p}rsub` / `${p}cb0`, emits
    * `${p}a_k` / `${p}u_k` / `${p}cb_k` — the residual chain uses prefix
    * "" (so pq_train's `u$PqTrainRounds` references are unchanged), the
    * OPQ legs train a second and third chain in the SAME oracle under
    * prefixes that can't collide. */
  private[queries] def pqTrainRoundsSql(p: String): String =
    (1 to PqTrainRounds).map { k =>
      s"""${p}a$k AS MATERIALIZED (
         |  SELECT cid, j, code, rsub FROM (
         |    SELECT r.cid, r.j, c.code, r.rsub,
         |           ROW_NUMBER() OVER (PARTITION BY r.cid, r.j
         |                              ORDER BY ${duckL2Res("r.rsub", "c.centv")}, c.code) AS rk
         |    FROM ${p}rsub r JOIN ${p}cb${k - 1} c ON r.j = c.j) t
         |  WHERE rk = 1),
         |${p}u$k AS MATERIALIZED (
         |  SELECT j, code, CAST(u.i - 1 AS INTEGER) AS dim,
         |         CAST(COUNT(*) AS BIGINT) AS n,
         |         CAST(SUM(CAST(floor(rsub[u.i] * 1000000.0) / 1000000.0
         |                       AS DECIMAL(16,6))) AS DECIMAL(20,6)) AS s
         |  FROM ${p}a$k, UNNEST(range(1, 9)) AS u(i)
         |  GROUP BY j, code, dim),
         |${p}cb$k AS MATERIALIZED (
         |  SELECT j, code, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS centv
         |  FROM ${p}u$k GROUP BY j, code)""".stripMargin
    }.mkString(",\n")

  private[queries] def pqResidualTrainSql: String = {
    val rounds = pqTrainRoundsSql("")
    s"""$ivfListsSql,
       |js AS (SELECT UNNEST(range(8)) AS j),
       |resid AS MATERIALIZED (
       |  SELECT l.cid, l.list_id,
       |         list_transform(range(1, 65),
       |           i -> CAST(l.cv[i] AS DOUBLE) - CAST(c.centv[i] AS DOUBLE)) AS r
       |  FROM lists l JOIN cents c ON l.list_id = c.cent_id),
       |rsub AS MATERIALIZED (
       |  SELECT cid, list_id, j, r[j*8+1 : j*8+8] AS rsub FROM resid, js),
       |cb0 AS (SELECT j, CAST(cid - 16 AS INTEGER) AS code, rsub AS centv
       |        FROM rsub WHERE cid >= 16 AND cid < 32),
       |$rounds""".stripMargin
  }

  /** The residual-IVFADC candidate frame (qid, cid, adist): the SAME
    * coarse probes as [[ivfPqAdcDist]] (shared [[ivfProbes]] builder),
    * but candidates are scored by trained-residual-PQ ADC — the query's
    * residual is taken against EACH PROBED LIST's centroid (the ADC
    * table is per (qid, list_id): q×4probes×8j×≤16codes rows, broadcast),
    * and a candidate's 8 lookups use the ADC rows of its OWN list.
    * Scale shape: identical to ivfPqAdcDist — corpus-sized work carries
    * 8 code bytes per vector; the trained codebook is Q.truncate'd once
    * (its lineage holds 2 Lloyd corpus passes and feeds 2 plan
    * branches). */
  private def ivfPqResidualDist(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    ivfPqResidualDistFrom(emb, truncate(pqResidualSub(s, dir)),
      ivfLists(emb).select("cid", "list_id"), ivfProbes(emb))
  }

  /** The trained-residual PQ ENCODE stage (cid, j, code): every residual
    * slice to its nearest trained codeword — min(struct) map-side argmin,
    * one row per (vec, subspace) reaches the shuffle. Factored r15 so the
    * persisted index (AnnIndexQueries) provably encodes with the in-plan
    * retriever's own encoder. */
  private[queries] def pqResidualCodesFrom(
      rsub: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    rsub.join(broadcast(cbCands(cb)), Seq("j"))
      .select(col("cid"), col("j"),
        graft.functions.VectorFunctions.argminL2(col("cands"), col("rsub"))
          .getField("id").cast("int").as("code"))

  /** [[ivfPqResidualDist]] over PREPARED frames (truncated rsub + coarse
    * lists/probes) — the recall_pq_family shared-frame path (r14). */
  private[queries] def ivfPqResidualDistFrom(
      emb: org.apache.spark.sql.DataFrame,
      rsub: org.apache.spark.sql.DataFrame,
      lists: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cb = truncate(pqResidualTrainFrom(rsub)._1)
    val codes = pqResidualCodesFrom(rsub, cb)
    val cents = ivfCentroids(emb)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val adc = residualAdcFrom(q, probes, cents, cb)
    val cand = probes.join(lists, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), col("list_id"))
    cand.join(codes, Seq("cid"))
      .join(broadcast(adc), Seq("qid", "list_id", "j", "code"))
      .groupBy("qid", "cid").agg(sum(col("qd2")).as("adist"))
  }

  /** The per-query residual ADC table (qid, list_id, j, code, qd2): the
    * query's residual against EACH PROBED LIST's centroid, sliced into
    * subspaces, distance-tabled against the trained codebook — q×4probes×
    * 8j×≤16codes rows, broadcast-sized at any corpus. Factored r15 so the
    * persisted-index serving path computes the identical serve-time table
    * from its LOADED centroids/codebook. */
  private[queries] def residualAdcFrom(
      q: org.apache.spark.sql.DataFrame,
      probes: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val qrsub = probes
      .join(broadcast(cents), col("list_id") === col("cent_id"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("list_id"),
        expr("zip_with(qv, centv, (a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE))")
          .as("qr"))
      .select(col("qid"), col("list_id"),
        explode(sequence(lit(0), lit(7))).as("j"), col("qr"))
      .select(col("qid"), col("list_id"), col("j"),
        expr("slice(qr, int(j * 8 + 1), 8)").as("qrsub"))
    qrsub.join(broadcast(cb), Seq("j"))
      .select(col("qid"), col("list_id"), col("j"), col("code"),
        Q.grid6(graft.functions.VectorFunctions.l2Sq(col("qrsub"), col("centv")))
          .cast("decimal(16,6)").as("qd2"))
  }

  /** Oracle twin of [[ivfPqResidualDist]] — CTE text (extends
    * [[pqResidualTrainSql]]) ending in `dist(qid, cid, adist)`. */
  private[queries] def ivfPqResidualDistSql: String =
    s"""$pqResidualTrainSql,
       |codes AS MATERIALIZED (
       |  SELECT cid, j, code FROM (
       |    SELECT r.cid, r.j, c.code,
       |           ROW_NUMBER() OVER (PARTITION BY r.cid, r.j
       |                              ORDER BY ${duckL2Res("r.rsub", "c.centv")}, c.code) AS rk
       |    FROM rsub r JOIN cb$PqTrainRounds c ON r.j = c.j) t
       |  WHERE rk = 1),
       |probes AS (
       |  SELECT qid, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS qid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${duckCosSql("q.embedding", "c.centv")} DESC, c.cent_id) AS prk
       |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NumQueries) t
       |  WHERE prk <= 4),
       |qrsub AS (
       |  SELECT p.qid, p.list_id, js.j,
       |         list_transform(range(1, 65),
       |           i -> CAST(q.embedding[i] AS DOUBLE) - CAST(c.centv[i] AS DOUBLE)
       |         )[js.j*8+1 : js.j*8+8] AS qrsub
       |  FROM probes p
       |  JOIN embeddings q ON q.vec_id = p.qid
       |  JOIN cents c ON c.cent_id = p.list_id, js),
       |adc AS (
       |  SELECT r.qid, r.list_id, r.j, c.code,
       |         CAST(floor((${duckL2Res("r.qrsub", "c.centv")}) * 1000000.0) / 1000000.0
       |              AS DECIMAL(16,6)) AS qd2
       |  FROM qrsub r JOIN cb$PqTrainRounds c ON r.j = c.j),
       |cand AS (
       |  SELECT p.qid, l.cid, p.list_id
       |  FROM probes p JOIN lists l ON p.list_id = l.list_id
       |  WHERE p.qid != l.cid),
       |dist AS (
       |  SELECT d.qid, d.cid, SUM(a.qd2) AS adist
       |  FROM cand d JOIN codes k ON k.cid = d.cid
       |  JOIN adc a ON a.qid = d.qid AND a.list_id = d.list_id
       |            AND a.j = k.j AND a.code = k.code
       |  GROUP BY d.qid, d.cid)""".stripMargin

  /** The raw-PQ per-(vec, subspace) assigned squared error (j, d2
    * DECIMAL(16,6)) — pq_topk's encode argmin against the untrained
    * first-16 codebooks, gridded. Extracted r14 so pq_distortion and
    * pq_train_distortion's raw leg provably measure the same encoder. */
  private[queries] def pqRawErrs(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val emb = Tables.load(s, dir, "embeddings")
    def l2(a: String, b: String): Column =
      graft.functions.VectorFunctions.floatL2Sq(col(a), col(b))
    def subspaces(src: org.apache.spark.sql.DataFrame, idCol: String, subName: String) =
      src.select(col("vec_id").as(idCol),
          explode(sequence(lit(0), lit(7))).as("j"), col("embedding"))
        .select(col(idCol), col("j"),
          expr("slice(embedding, int(j * 8 + 1), 8)").as(subName))
    val cands = subspaces(emb.filter(col("vec_id") < 16), "cent_id", "centv")
      .groupBy("j")
      .agg(sort_array(collect_list(struct(
        col("cent_id").cast("long").as("id"), col("centv")))).as("cands"))
    subspaces(emb, "cid", "subv")
      .join(broadcast(cands), Seq("j"))
      .select(col("j"),
        Q.grid6(graft.functions.VectorFunctions.argminL2(col("cands"), col("subv"))
          .getField("score")).cast("decimal(16,6)").as("d2"))
  }


  /** Exact integer dot product of two int8 code vectors (≤ 127²·64 < 2^20,
    * so the bigint fold is exact — perfect cross-engine parity). */
  private def intDot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS BIGINT) * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** DuckDB mirror of [[intDot]]. */
  private def duckIntDot(a: String, b: String) =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS BIGINT) * $b[i]), (acc, v) -> acc + v)"

  /** ivf_trained_topk's SERVE tail over PREPARED frames (r15, ADVICE item
    * 5 + the sampled-training path): corpus `(vec_id, embedding, assignv)`
    * — assignv is the vector the L2 argmins run on (raw floats for the
    * L2-trained retriever, L2-normalized doubles for the spherical one) —
    * and trained centroids `(cent_id, centv array<double>)`. Assignment
    * and probing are L2 argmins against the centroids (min(struct) with
    * the NULLS-LAST coalesce / window with (pd2, cent_id) tie-break);
    * ranking within probed lists is exact cosine on the RAW floats —
    * ivf_topk's tail verbatim. Extracted from the r14 entry bodies with
    * zero plan change so ivf_trained_topk, ivf_spherical_topk, and the
    * sampled-training retriever (AnnIndexQueries.ivf_sampled_topk)
    * provably serve identically. */
  private[queries] def ivfL2ServeAssignFrom(
      corpus: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.VectorFunctions.l2Sq
    // r15: map-only argmin against the one-row collected centroid array —
    // no corpus shuffle in the assignment (see ivfListsN's note)
    val cands = cents.agg(sort_array(collect_list(struct(
      col("cent_id").cast("long").as("id"), col("centv")))).as("cands"))
    val lists = corpus.select(col("vec_id"), col("embedding"), col("assignv"))
      .crossJoin(broadcast(cands))
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.argminL2(col("cands"), col("assignv")).as("m"))
      .filter(col("m").isNotNull)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("m.id").as("list_id"))
    val q = corpus.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("assignv").as("qav"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("pd2"), col("cent_id"))
    val probes = broadcast(q).crossJoin(broadcast(cents))
      .withColumn("pd2",
        coalesce(l2Sq(col("qav"), col("centv")), lit(Double.PositiveInfinity)))
      .withColumn("prk", row_number().over(wProbe))
      .filter(col("prk") <= 4)
      .select(col("qid"), col("qv"), col("cent_id").as("list_id"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
    probes.join(lists, Seq("list_id"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** [[ivfL2ServeAssignFrom]] with assignv = the raw embedding (the
    * L2-trained retriever's spelling). */
  private[queries] def ivfL2ServeFrom(
      emb: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    ivfL2ServeAssignFrom(
      emb.select(col("vec_id"), col("embedding"), col("embedding").as("assignv")),
      cents)

  /** Oracle twin of [[ivfL2ServeAssignFrom]]'s tail: CTE text from
    * assignment (`tl`) through the final SELECT, over a caller-supplied
    * corpus CTE `(vec_id, emb)` for the L2 argmins (raw or normalized) and
    * the trained-centroid CTE `c3` — shared by ivf_trained_topk,
    * ivf_spherical_topk, and ivf_sampled_topk so all three oracles
    * provably serve with the same SQL. `assignCte` must expose ALL corpus
    * vectors (the sampled retriever trains on a sample but serves the full
    * corpus). */
  private[queries] def ivfL2ServeTailSql(assignCte: String): String = {
    def l2d(a: String, b: String) =
      s"""list_reduce(list_transform(range(1, 65),
         |  i -> ($a[i] - $b[i]) * ($a[i] - $b[i])),
         |  (acc, v) -> acc + v)""".stripMargin
    s"""tl AS (
       |  SELECT cid, cent_id AS list_id FROM (
       |    SELECT e.vec_id AS cid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                              ORDER BY ${l2d("e.emb", "c.centv")}, c.cent_id) AS rk
       |    FROM $assignCte e CROSS JOIN c3 c) t
       |  WHERE rk = 1),
       |tprobes AS (
       |  SELECT qid, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS qid, c.cent_id,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                              ORDER BY ${l2d("q.emb", "c.centv")}, c.cent_id) AS prk
       |    FROM $assignCte q CROSS JOIN c3 c WHERE q.vec_id < $NumQueries) t
       |  WHERE prk <= 4),
       |tscored AS (
       |  SELECT p.qid, t.cid, ${duckCosSql("qe.embedding", "ce.embedding")} AS sim
       |  FROM tprobes p JOIN tl t ON p.list_id = t.list_id
       |  JOIN embeddings qe ON qe.vec_id = p.qid
       |  JOIN embeddings ce ON ce.vec_id = t.cid
       |  WHERE p.qid != t.cid),
       |tranked AS (SELECT qid, cid, sim,
       |              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
       |            FROM tscored)
       |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim,
       |       CAST(rk AS INTEGER) AS rk
       |FROM tranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin
  }

  /** Every retriever entry except the composed evals below. */
  private[queries] val base: Map[String, Q] = Map(
    // ---- 1-NN label consistency within IVF lists (added r8) --------------
    // The Confident-Learning-lite label-noise detector: for each vector,
    // find its nearest neighbor INSIDE its IVF list (the retriever's own
    // partition of the space — no all-pairs, the semdedup within-cluster
    // precedent) and report per-class 1-NN label agreement. A class whose
    // agreement sits near the prior is not separable in this embedding
    // space — its labels (or its embeddings) are noise; per-example
    // disagreement is the standard relabel-queue signal. Distances via the
    // proven floatL2Sq ↔ duckL2Full fold pair; argmin by min(struct(d2,
    // b_id)) with the vec_id tie-break matching the oracle's ROW_NUMBER;
    // agreement rate ONE bare division.
    //
    // Scale shape: the shared ivfLists assignment (map-side argmin agg) →
    // within-list pair join — list-bounded, ≈ n²/16 pairs at uniform
    // lists, never a global cartesian (at 100 TB bound the list size by
    // raising n_lists: pairs stay (n/L)²·L — the audit's own ivf_balance
    // measures exactly that) → per-vector argmin agg → ≤|labels| roll-up.
    "knn_label_consistency" -> Q(
      fn = (s, dir) => knnConsistencyFrom(Tables.load(s, dir, "embeddings"), 16),
      oracle = Some(
        s"""WITH $ivfListsSql,
           |wl AS (SELECT l.cid, l.cv, l.list_id, e.label
           |       FROM lists l JOIN embeddings e ON e.vec_id = l.cid),
           |p AS (SELECT a.cid AS a_id, a.label AS la, b.cid AS b_id, b.label AS lb,
           |             ${duckL2Full("a.cv", "b.cv")} AS d2
           |      FROM wl a JOIN wl b ON a.list_id = b.list_id AND a.cid <> b.cid),
           |nn AS (SELECT a_id, la, lb,
           |              ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY d2, b_id) AS rk
           |       FROM p),
           |ag AS (SELECT la AS label,
           |              CASE WHEN la = lb THEN 1 ELSE 0 END AS agree
           |       FROM nn WHERE rk = 1)
           |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(SUM(agree) AS BIGINT) AS nn_agree,
           |       CAST(SUM(agree) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS consistency
           |FROM ag GROUP BY label ORDER BY label""".stripMargin)),

    // ---- reciprocal 1-NN rate (added r10) ---------------------------------
    // The hubness audit (Radovanović et al. 2010): in healthy embedding
    // spaces most 1-NN relations are SYMMETRIC; hubs — points that are
    // everyone's neighbor while their own neighbor is elsewhere — depress
    // the reciprocal rate and are the standard high-dimensionality
    // pathology flag (they dominate retrieval lists and poison kNN
    // labels). Same within-IVF-list 1-NN as knn_label_consistency (the
    // retriever's own partition of the space), so the two audits read the
    // same geometry. Rate is ONE bare division of exact counts.
    //
    // Scale shape: the shared ivfLists assignment → list-bounded pair join
    // (n²/L, the knn argument) → per-vector argmin agg → the reciprocity
    // self-join runs on the NN frame (one row per vector, equi-keyed) →
    // 1-row roll-up.
    "reciprocal_nn_rate" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val lists = ivfLists(emb)
        val a = lists.select(col("list_id"), col("cid").as("a_id"), col("cv").as("va"))
        val b = lists.select(col("list_id"), col("cid").as("b_id"), col("cv").as("vb"))
        val nn = a.join(b, Seq("list_id")).filter(col("a_id") =!= col("b_id"))
          .withColumn("d2",
            graft.functions.VectorFunctions.floatL2Sq(col("va"), col("vb")))
          .groupBy(col("a_id"))
          .agg(min(struct(col("d2"), col("b_id"))).as("m"))
          .select(col("a_id"), col("m.b_id").as("nn_id"))
        val rec = nn.as("x").join(nn.as("y"),
            col("x.nn_id") === col("y.a_id") && col("y.nn_id") === col("x.a_id")
              && col("x.a_id") < col("y.a_id"))
          .agg(count(lit(1)).as("n_reciprocal_pairs"))
        nn.agg(count(lit(1)).as("n_vectors"))
          .crossJoin(rec)
          .select(col("n_vectors"), col("n_reciprocal_pairs"),
            // empty-corpus guard: 0/0 raises under ANSI, NULL on both engines
            when(col("n_vectors") === 0, lit(null).cast("double"))
              .otherwise((col("n_reciprocal_pairs") * 2).cast("double")
                / col("n_vectors").cast("double")).as("reciprocal_rate"))
      },
      oracle = Some(
        s"""WITH $ivfListsSql,
           |p AS (SELECT a.cid AS a_id, b.cid AS b_id,
           |             ${duckL2Full("a.cv", "b.cv")} AS d2
           |      FROM lists a JOIN lists b ON a.list_id = b.list_id AND a.cid <> b.cid),
           |nn AS (SELECT a_id, b_id AS nn_id FROM (
           |         SELECT a_id, b_id,
           |                ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY d2, b_id) AS rk
           |         FROM p) t WHERE rk = 1),
           |rec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_reciprocal_pairs
           |        FROM nn x JOIN nn y
           |          ON x.nn_id = y.a_id AND y.nn_id = x.a_id AND x.a_id < y.a_id),
           |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM nn)
           |SELECT n_vectors, n_reciprocal_pairs,
           |       CASE WHEN n_vectors = 0 THEN NULL
           |            ELSE CAST(n_reciprocal_pairs * 2 AS DOUBLE) / CAST(n_vectors AS DOUBLE)
           |       END AS reciprocal_rate
           |FROM tot, rec""".stripMargin)),

    // ---- PQ codebook usage audit (added r10) -------------------------------
    // The dead-code detector pairing pq_distortion's error lens with a
    // UTILIZATION lens: per subspace, how many of the 16 codes are
    // actually assigned, the top code's share, and the Simpson
    // concentration of the code histogram — a subspace assigning
    // everything to 3 codes wastes its bits and is the first to re-train
    // (the same failure ivf_balance catches at the coarse level).
    // IDENTICAL encode argmin as pq_topk/pq_distortion (the proven
    // floatL2Sq fold pair with (d2, cent_id) tie-break). Exact integer
    // surface: share and concentration are each ONE bare division;
    // conc = (Σc²−n)/(n(n−1)) is simpson_diversity's spelling.
    //
    // Scale shape: the encode argmin collapses map-side; then an 8×16
    // code histogram agg and an 8-row roll-up — constant beyond the scan.
    "pq_code_usage" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        def l2(a: String, b: String): Column =
          graft.functions.VectorFunctions.floatL2Sq(col(a), col(b))
        def subspaces(src: org.apache.spark.sql.DataFrame, idCol: String, subName: String) =
          src.select(col("vec_id").as(idCol),
              explode(sequence(lit(0), lit(7))).as("j"), col("embedding"))
            .select(col(idCol), col("j"),
              expr("slice(embedding, int(j * 8 + 1), 8)").as(subName))
        val cands = subspaces(emb.filter(col("vec_id") < 16), "cent_id", "centv")
          .groupBy("j")
          .agg(sort_array(collect_list(struct(
            col("cent_id").cast("long").as("id"), col("centv")))).as("cands"))
        val codes = subspaces(emb, "cid", "subv")
          .join(broadcast(cands), Seq("j"))
          .select(col("j"),
            graft.functions.VectorFunctions.argminL2(col("cands"), col("subv"))
              .getField("id").as("code"))
        val hist = codes.groupBy("j", "code").agg(count(lit(1)).as("c"))
        hist.groupBy("j")
          .agg(sum(col("c")).as("n"), count(lit(1)).as("codes_used"),
            max(col("c")).as("top_c"), sum(col("c") * col("c")).as("sc2"))
          .select(col("j").cast("long").as("subspace"), col("n"), col("codes_used"),
            (col("top_c").cast("double") / col("n").cast("double")).as("top_code_share"),
            when(col("n") <= 1, lit(null).cast("double"))
              .otherwise((col("sc2") - col("n")).cast("double")
                / (col("n") * (col("n") - 1)).cast("double")).as("concentration"))
          .orderBy("subspace")
      },
      oracle = Some {
        def duckL2(a: String, b: String) =
          s"""list_reduce(list_transform(range(1, 9),
             |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
             |  (acc, v) -> acc + v)""".stripMargin
        s"""WITH js AS (SELECT UNNEST(range(8)) AS j),
           |cents AS (SELECT vec_id AS cent_id, j, embedding[j*8+1 : j*8+8] AS centv
           |          FROM embeddings, js WHERE vec_id < 16),
           |vecs AS (SELECT vec_id AS cid, j, embedding[j*8+1 : j*8+8] AS subv
           |         FROM embeddings, js),
           |enc AS (
           |  SELECT cid, j, cent_id AS code FROM (
           |    SELECT v.cid, v.j, c.cent_id,
           |           ROW_NUMBER() OVER (PARTITION BY v.cid, v.j
           |                              ORDER BY ${duckL2("v.subv", "c.centv")}, c.cent_id) AS crk
           |    FROM vecs v JOIN cents c ON v.j = c.j) t
           |  WHERE crk = 1),
           |h AS (SELECT j, code, CAST(COUNT(*) AS BIGINT) AS c FROM enc GROUP BY j, code),
           |m AS (SELECT j, CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS codes_used,
           |             CAST(MAX(c) AS BIGINT) AS top_c, CAST(SUM(c * c) AS BIGINT) AS sc2
           |      FROM h GROUP BY j)
           |SELECT CAST(j AS BIGINT) AS subspace, n, codes_used,
           |       CAST(top_c AS DOUBLE) / CAST(n AS DOUBLE) AS top_code_share,
           |       CASE WHEN n <= 1 THEN NULL
           |            ELSE CAST(sc2 - n AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
           |       END AS concentration
           |FROM m ORDER BY subspace""".stripMargin }),

    // ---- brute-force cosine top-k ---------------------------------------
    "similarity_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val scored = broadcast(q).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           |scored AS (
           |  SELECT qid, cid,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q CROSS JOIN c WHERE qid != cid),
           |ranked AS (
           |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin),
      headline = true),

    // ---- Matryoshka prefix-dimension retrieval audit (added r11) ---------
    // The embedding-truncation question MRL training popularized (Kusupati
    // 2022): if the index stores only the first d dims (2×/4×/8× cheaper
    // storage AND dot products), how much of the full-dimension top-10 is
    // retained? Per prefix d ∈ {8, 16, 32}: exact brute-force top-10 by
    // prefix cosine vs the full-64-dim top-10 ground truth (similarity_
    // topk's spelling verbatim), recall = overlap/ranked — exact ints,
    // ONE bare division. On RANDOM (non-MRL) embeddings recall decays
    // hard with truncation — which is exactly the audit's point: it
    // measures whether a given checkpoint's embeddings earn their
    // truncated index before the 100 TB reindex is paid.
    //
    // Scale shape: the ≤5-row query side broadcasts against ONE corpus
    // scan per prefix (similarity_topk's whitelisted shape ×4); the
    // overlap join runs on the ≤4·q·10-row ranked frames.
    "matryoshka_recall" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        def top(d: Int) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
          broadcast(q).crossJoin(c)
            .filter(col("qid") =!= col("cid"))
            .withColumn("sim", cosineSimilarity(
              slice(col("qv"), 1, d), slice(col("cv"), 1, d)))
            .filter(col("sim").isNotNull)
            .withColumn("rk", row_number().over(w))
            .filter(col("rk") <= TopK)
            .select(col("qid"), col("cid"))
        }
        val full = top(64).withColumn("hit", lit(1))
        Seq(8, 16, 32).map(d => top(d).withColumn("dim", lit(d)))
          .reduce(_ union _)
          .join(full, Seq("qid", "cid"), "left")
          .groupBy("dim")
          .agg(count(lit(1)).as("n_ranked"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_overlap"))
          .select(col("dim"), col("n_ranked"), col("n_overlap"),
            (col("n_overlap").cast("double") / col("n_ranked").cast("double"))
              .as("recall"))
          .orderBy("dim")
      },
      oracle = Some {
        def rankedCte(name: String, d: Int) =
          s"""$name AS (
             |  SELECT qid, cid FROM (
             |    SELECT qid, cid,
             |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
             |    FROM (SELECT qid, cid,
             |                 ${duckCosSql(s"qv[1:$d]", s"cv[1:$d]")} AS sim
             |          FROM q CROSS JOIN c WHERE qid != cid)
             |    WHERE sim IS NOT NULL)
             |  WHERE rk <= $TopK)""".stripMargin
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           |${rankedCte("r8", 8)},
           |${rankedCte("r16", 16)},
           |${rankedCte("r32", 32)},
           |${rankedCte("rfull", 64)},
           |pre AS (SELECT 8 AS dim, qid, cid FROM r8
           |        UNION ALL SELECT 16, qid, cid FROM r16
           |        UNION ALL SELECT 32, qid, cid FROM r32)
           |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_ranked,
           |       CAST(SUM(CASE WHEN f.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           |       CAST(SUM(CASE WHEN f.qid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
           |         / CAST(COUNT(*) AS DOUBLE) AS recall
           |FROM pre LEFT JOIN rfull f ON pre.qid = f.qid AND pre.cid = f.cid
           |GROUP BY dim ORDER BY dim""".stripMargin
      }),

    // ---- same top-k via the typed bounded-buffer aggregator --------------
    // (identical output contract and oracle as similarity_topk: two engine
    // paths — window row_number vs typed Aggregator — one ground truth)
    "similarity_topk_agg" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val scored = broadcast(q).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
        graft.functions.TopK.ranked(scored.select("qid", "cid", "sim"), "qid", TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           |scored AS (
           |  SELECT qid, cid,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q CROSS JOIN c WHERE qid != cid),
           |ranked AS (
           |  SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) --
    // Two retrievers over the same candidate pool — cosine (angle) and
    // euclidean (magnitude-sensitive; the rankings genuinely differ because
    // the synthetic vectors are NOT normalized) — each keeps its top-k, and
    // the union is re-ranked by RRF(d) = Σ_r 1/(60 + rank_r(d)), the
    // standard no-tuning rank fusion (k = 60 per the paper). The shape
    // generalizes to BM25 ⊕ dense hybrid search: any set of per-retriever
    // (qid, cid, rank) lists fuses the same way.
    //
    // Scale shape: ONE scored pass (both metrics are codegen'd expressions
    // over the same broadcast-q × candidates product — no second scan, no
    // self-join: the two ranks come from two windows over the SAME qid
    // partitioning, one shuffle), then the fusion is pure arithmetic on the
    // ≤ 2k surviving rows per query. At 100 TB the scored pass swaps to an
    // ANN candidate source (ivf/lsh_topk) per retriever; fusion unchanged.
    //
    // Float parity: each RRF term is ONE correctly-rounded double division
    // 1.0/(60+rank) of exact ints, and their sum is one correctly-rounded
    // add — identical expression trees on both engines, no round() anywhere.
    // Ranking orders bit-identical doubles with cid tie-break.
    "rrf_fusion" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val scored = broadcast(q).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
          .withColumn("d2",
            graft.functions.VectorFunctions.floatL2Sq(col("qv"), col("cv")))
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        val wl = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("d2").asc, col("cid"))
        val fused = scored
          .withColumn("rc", row_number().over(wc))
          .withColumn("rl", row_number().over(wl))
          .filter(col("rc") <= TopK || col("rl") <= TopK)
          .select(col("qid"), col("cid"),
            when(col("rc") <= TopK, col("rc")).as("cos_rank"),
            when(col("rl") <= TopK, col("rl")).as("l2_rank"))
          .withColumn("rrf",
            coalesce(lit(1.0d) / (lit(60) + col("cos_rank")), lit(0.0d))
              + coalesce(lit(1.0d) / (lit(60) + col("l2_rank")), lit(0.0d)))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("rrf").desc, col("cid"))
        fused.withColumn("rrf_rank", row_number().over(wr).cast("int"))
          .filter(col("rrf_rank") <= TopK)
          .select(col("qid"), col("cid"), col("rrf"),
            col("cos_rank").cast("int").as("cos_rank"),
            col("l2_rank").cast("int").as("l2_rank"), col("rrf_rank"))
          .orderBy("qid", "rrf_rank")
      },
      oracle = Some(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
           |scored AS (
           |  SELECT qid, cid,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim,
           |         ${duckL2Full("qv", "cv")} AS d2
           |  FROM q CROSS JOIN c WHERE qid != cid),
           |ranked AS (
           |  SELECT qid, cid,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rc,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2 ASC, cid) AS rl
           |  FROM scored),
           |fused AS (
           |  SELECT qid, cid,
           |         CASE WHEN rc <= $TopK THEN rc END AS cos_rank,
           |         CASE WHEN rl <= $TopK THEN rl END AS l2_rank,
           |         COALESCE(CAST(1.0 AS DOUBLE) / (60 + CASE WHEN rc <= $TopK THEN rc END), CAST(0.0 AS DOUBLE))
           |           + COALESCE(CAST(1.0 AS DOUBLE) / (60 + CASE WHEN rl <= $TopK THEN rl END), CAST(0.0 AS DOUBLE)) AS rrf
           |  FROM ranked WHERE rc <= $TopK OR rl <= $TopK),
           |rr AS (
           |  SELECT qid, cid, rrf, cos_rank, l2_rank,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf DESC, cid) AS rrf_rank
           |  FROM fused)
           |SELECT qid, cid, rrf, CAST(cos_rank AS INTEGER) AS cos_rank,
           |       CAST(l2_rank AS INTEGER) AS l2_rank, CAST(rrf_rank AS INTEGER) AS rrf_rank
           |FROM rr WHERE rrf_rank <= $TopK ORDER BY qid, rrf_rank""".stripMargin)),

    // ---- random-hyperplane LSH ANN ---------------------------------------
    // 8 signed projections → 8-bit signature → candidates share the exact
    // signature bucket → exact cosine inside the bucket. The hyperplanes are
    // "random" but derived deterministically from md5 so Scala and DuckDB
    // construct the identical planes (component ji = +1 iff first hex char
    // of md5("j:i") >= '8').
    "lsh_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            hyperplaneSig(col("embedding"), 0 until 8).as("sig"))
          .cache()
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"), col("sig"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("sig"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        broadcast(q).join(c, Seq("sig"))
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some {
        s"""WITH e AS (SELECT vec_id, embedding, $hyperplaneSigSql8 AS sig FROM embeddings),
           |q AS (SELECT vec_id AS qid, embedding AS qv, sig FROM e WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv, sig FROM e),
           |scored AS (
           |  SELECT qid, cid,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q JOIN c USING (sig) WHERE qid != cid),
           |ranked AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin
      }),

    // ---- multi-probe LSH ANN: probe the bucket AND its 1-bit flips (r12) --
    // The standard fix for single-probe LSH's recall-vs-memory bind (Lv et
    // al., VLDB 2007): instead of more hash tables, each query ALSO probes
    // the 8 buckets at Hamming distance 1 from its own signature — a
    // near-neighbor that flipped one hyperplane bit is found without a
    // second index. Probes are string bit-flips of the SHARED 8-bit
    // signature ([[hyperplaneSig]] / [[hyperplaneSigSql8]] — factored so
    // both engines and both LSH queries provably hash identically);
    // candidates colliding in several probes are collapsed by a distinct
    // BEFORE ranking (sim is deterministic, so the distinct is exact);
    // exact cosine rerank, same (sim DESC, cid) total order as lsh_topk.
    //
    // Scale shape: the query side explodes to ≤ queries·9 rows and
    // broadcasts (R1-whitelisted); the corpus side is ONE scan hashed on
    // sig — identical to lsh_topk's shape, the multiprobe cost is only the
    // 9× larger (still tiny) broadcast side. At 100 TB this is the shape
    // that holds recall when bucket occupancy forces longer signatures.
    "lsh_multiprobe_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            hyperplaneSig(col("embedding"), 0 until 8).as("sig"))
        val probes = col("sig") +: (1 to 8).map { j =>
          concat(substring(col("sig"), 1, j - 1),
            when(substring(col("sig"), j, 1) === "1", "0").otherwise("1"),
            substring(col("sig"), j + 1, 8 - j))
        }
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            explode(array(probes: _*)).as("sig"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"), col("sig"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        broadcast(q).join(c, Seq("sig"))
          .filter(col("qid") =!= col("cid"))
          .select(col("qid"), col("cid"),
            cosineSimilarity(col("qv"), col("cv")).as("sim"))
          .distinct()
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some {
        s"""WITH e AS (SELECT vec_id, embedding, $hyperplaneSigSql8 AS sig FROM embeddings),
           |q AS (SELECT vec_id AS qid, embedding AS qv,
           |             UNNEST([sig] || list_transform(range(1, 9),
           |               j -> substring(sig, 1, CAST(j - 1 AS INTEGER))
           |                    || (CASE WHEN substring(sig, CAST(j AS INTEGER), 1) = '1'
           |                             THEN '0' ELSE '1' END)
           |                    || substring(sig, CAST(j + 1 AS INTEGER), 8))) AS sig
           |      FROM e WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv, sig FROM e),
           |scored AS (
           |  SELECT DISTINCT qid, cid,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q JOIN c USING (sig) WHERE qid != cid),
           |ranked AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin
      }),

    // ---- IVF-bucketed ANN: coarse quantize → probe best lists ------------
    // Deterministic IVF: centroids are the first 16 vectors; every vector is
    // assigned to its nearest centroid (the inverted list); a query probes
    // its 4 nearest centroids' lists and does exact cosine inside them.
    // Same structure as FAISS IVF-Flat, fully declarative.
    "ivf_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = ivfCentroids(emb)
        def cosTo(v1: String, v2: String) = cosineSimilarity(col(v1), col(v2))
        val lists = ivfLists(emb)
        // queries probe their 4 nearest lists
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("psim").desc, col("cent_id"))
        val probes = broadcast(q).crossJoin(broadcast(cents))
          .withColumn("psim", cosTo("qv", "centv"))
          .withColumn("prk", row_number().over(wProbe))
          .filter(col("prk") <= 4)
          .select(col("qid"), col("qv"), col("cent_id").as("list_id"))
        // exact cosine within probed lists
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        probes.join(lists, Seq("list_id"))
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosTo("qv", "cv"))
          .withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some {
        s"""WITH $ivfListsSql,
           |probes AS (
           |  SELECT qid, qv, cent_id AS list_id FROM (
           |    SELECT q.vec_id AS qid, q.embedding AS qv, c.cent_id,
           |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${duckCosSql("q.embedding", "c.centv")} DESC, c.cent_id) AS prk
           |    FROM embeddings q CROSS JOIN cents c WHERE q.vec_id < $NumQueries) t
           |  WHERE prk <= 4),
           |scored AS (
           |  SELECT qid, cid, ${duckCosSql("p.qv", "l.cv")} AS sim
           |  FROM probes p JOIN lists l ON p.list_id = l.list_id
           |  WHERE qid != cid),
           |ranked AS (SELECT qid, cid, sim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin
      }),

    // ---- IVF-PQ ANN: coarse probe + product-quantized rank (r12) ---------
    // The composition a production vector index actually deploys (FAISS
    // IVFPQ): the IVF coarse quantizer prunes the corpus to 4 probed
    // lists, then candidates are ranked by the PQ asymmetric-distance
    // table — the scan touches 8 CODE BYTES per candidate, never the raw
    // 64 floats. Composed from the SAME gated builders as its parents —
    // ivfLists/ivfCentroids (ivf_topk's lists, oracle nests ivfListsSql
    // verbatim) and pq_topk's subspace/codebook/ADC spelling (min-struct
    // argmin encode, grid-quantized DECIMAL(16,6) ADC cells so the
    // 8-term sum is exact in any order) — so the composite provably
    // probes the lists ivf_topk probes and ranks with the codes pq_topk
    // ranks with.
    //
    // Scale shape: probes = two tiny broadcasts (≤5-row queries × 16-row
    // centroids); candidates = probed-list members only (n·nprobe/L);
    // the code-attach join is equi-keyed on cid; the ADC table broadcasts
    // at ≤ queries·8·16 rows. At 100 TB the per-candidate cost is 8 code
    // bytes + 8 exact decimal adds — the whole point of IVF-PQ.
    "ivf_pq_topk" -> Q(
      fn = (s, dir) => ivfPqRankTopk(ivfPqAdcDist(s, dir)),
      oracle = Some(
        s"""WITH $ivfPqDistSql,
           |ranked AS (
           |  SELECT qid, cid, adist,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS rk
           |  FROM dist)
           |SELECT qid, cid, CAST(adist AS DOUBLE) AS adist, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- two-stage ANN serving: PQ shortlist → exact re-rank (r13) -------
    // The deployable serving shape (the r12 verdict's #2 item): ivf_pq_topk
    // ranks by approximate ADC only; real deployments refine the PQ
    // shortlist with EXACT distances on the survivors (Jégou et al. 2011
    // §V — the "re-ranking with full vectors" step). Stage 1 = the SAME
    // shared [[ivfPqAdcDist]] frame (so shortlist ≡ the composite
    // retriever's candidate ranking by construction), top-`RefineShortlist`
    // by ADC; stage 2 fetches the TRUE embeddings for the ≤ q×50 survivors
    // and re-ranks by exact cosine — similarity_topk's spelling verbatim,
    // so the refined output is directly comparable to the brute-force
    // truth row-shape. recall_pq_family (below) measures how much recall
    // the refine step buys back over raw ADC.
    //
    // Scale shape: stage 1 is ivf_pq_topk's plan (probe-pruned, 8 code
    // bytes per candidate through the shuffle); stage 2 touches full
    // vectors for only q×50 rows — a broadcast-able frame joined back to
    // the corpus ONCE on vec_id. At 100 TB the full-vector reads stay
    // q×50 regardless of corpus size; everything corpus-sized stays PQ.
    "ivf_pq_refined_topk" -> Q(
      fn = (s, dir) => ivfPqRefineTopk(s, dir, ivfPqAdcDist(s, dir)),
      oracle = Some(
        s"""WITH $ivfPqDistSql,
           |short AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS srk
           |    FROM dist) t
           |  WHERE srk <= $RefineShortlist),
           |rr AS (
           |  SELECT s.qid, s.cid,
           |         ${duckCosSql("q.embedding", "c.embedding")} AS sim
           |  FROM short s
           |  JOIN embeddings q ON q.vec_id = s.qid
           |  JOIN embeddings c ON c.vec_id = s.cid),
           |ranked AS (
           |  SELECT qid, cid, sim,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM rr)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim,
           |       CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- IVF index-health audit: list balance (added r8) ----------------
    // The ops number an IVF deployment watches: how evenly do the inverted
    // lists split the corpus? A hot list (load_factor ≫ 1) means every
    // probe touching it scans far more than corpus/16 vectors — the ANN
    // latency tail — and is the signal to re-train or split centroids.
    // Composed from the SAME gated [[ivfLists]] builder as ivf_topk
    // (oracle nests the same CTE text), so the audit provably measures the
    // retriever's own lists — the recall_at_k no-drift discipline applied
    // to index health. share and load_factor (= n·n_lists/total) are each
    // ONE bare division of exact ints.
    //
    // Scale shape: the assignment's map-side argmin agg → a ≤16-row size
    // agg; the 1-row total is R1-whitelisted.
    "ivf_balance" -> Q(
      fn = (s, dir) => {
        val sizes = ivfLists(Tables.load(s, dir, "embeddings"))
          .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
        val tot = sizes.agg(sum(col("n_vecs")).as("total"), count(lit(1)).as("n_lists"))
        sizes.crossJoin(broadcast(tot))
          .select(col("list_id"), col("n_vecs"),
            (col("n_vecs").cast("double") / col("total").cast("double")).as("share"),
            ((col("n_vecs") * col("n_lists")).cast("double")
              / col("total").cast("double")).as("load_factor"))
          .orderBy("list_id")
      },
      oracle = Some(
        s"""WITH $ivfListsSql,
           |sz AS (SELECT list_id, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM lists GROUP BY list_id),
           |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
           |               CAST(COUNT(*) AS BIGINT) AS n_lists FROM sz)
           |SELECT list_id, n_vecs,
           |       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           |       CAST(n_vecs * n_lists AS DOUBLE) / CAST(total AS DOUBLE) AS load_factor
           |FROM sz CROSS JOIN tot ORDER BY list_id""".stripMargin)),

    // ---- int8 vector quantization + reconstruction error -----------------
    // The compression step of a FAISS-style ANN pipeline: per-vector
    // symmetric int8 quantization (scale = 127/max|x|, q = round(x·scale))
    // with the relative L2 reconstruction error reported per vector. PURE
    // per-row math — no join, no shuffle before the final sort — so at
    // 100 TB this is a map-only pass that rewrites the embedding column at
    // scan speed. ENGINE-VERSION-PROOF (r8): every step is deterministic
    // double IEEE ops (max, one division, per-element multiply+round,
    // left-fold sums shared with the duckDot pattern), so num/den/scale
    // are bit-identical on both engines; the 6 dp emit is
    // `floor(x·10^6)/10^6` — floor of a bit-identical double is exact on
    // any build, unlike each build's decimal `round` (sqrt here is
    // IEEE-correctly-rounded, so its bits are safe to floor).
    "embedding_quantize" -> Q(
      fn = (s, dir) => {
        quantized(Tables.load(s, dir, "embeddings"))
          .withColumn("num",
            expr("""aggregate(
                   |  zip_with(embedding, qv,
                   |    (a, b) -> (CAST(a AS DOUBLE) - b / scale) * (CAST(a AS DOUBLE) - b / scale)),
                   |  CAST(0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin))
          .withColumn("den", norm2(col("embedding")))
          .select(col("vec_id"),
            (floor(col("scale") * lit(1000000.0d)) / lit(1000000.0d)).as("scale"),
            (floor((sqrt(col("num")) / sqrt(col("den"))) * lit(1000000.0d))
              / lit(1000000.0d)).as("rel_err"))
          .orderBy("vec_id")
      },
      oracle = Some(
        s"""WITH $duckQuantizedCtes,
           |n AS (SELECT vec_id, scale,
           |        list_reduce(list_transform(range(1, len(embedding) + 1),
           |          i -> (CAST(embedding[i] AS DOUBLE) - qv[i] / scale)
           |             * (CAST(embedding[i] AS DOUBLE) - qv[i] / scale)),
           |          (acc, v) -> acc + v) AS num,
           |        ${duckDot("embedding", "embedding")} AS den
           |      FROM q)
           |SELECT vec_id, floor(scale * 1000000.0) / 1000000.0 AS scale,
           |       floor((sqrt(num) / sqrt(den)) * 1000000.0) / 1000000.0 AS rel_err
           |FROM n ORDER BY vec_id""".stripMargin)),

    // ---- product-quantization ANN (PQ codes + ADC scoring) ---------------
    // The third point of the FAISS compression ladder (flat → int8 → PQ):
    // split each 64-d vector into m=8 subvectors of 8 dims, encode each
    // subvector as the id of its nearest codebook centroid (here: the first
    // 16 vectors' subvectors — deterministic "training", like ivf_topk's
    // coarse centroids), and rank candidates by Asymmetric Distance
    // Computation: the query precomputes its m×16 subspace-distance table
    // and a candidate's distance is the sum of 8 TABLE LOOKUPS — no float
    // math against the full vector at scan time. 64 floats → 8 nibbles-worth
    // of codes (32× compression at real codebook sizes).
    // Scale shape: codebook and ADC tables are broadcast (m·16 rows); encode
    // is explode + broadcast join + per-(vec,subspace) argmin — the shuffle
    // carries ONE row per (vec, subspace), never all-pairs; the final scan
    // is codes ⋈ broadcast(ADC) + a sum-agg — candidates stream map-side.
    // Float parity: per-subspace L2² is a zero-seeded left fold of exact
    // double ops; per-subspace distances are rounded to 6 dp and summed AS
    // DECIMAL over the 8 subspaces, so the ranking key is order-independent
    // and bit-identical on both engines.
    "pq_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        // codegen'd FloatVectorL2Sq (r5): same zero-seeded left fold as the
        // HOF `aggregate(zip_with(...))` form — bit-identical, but one tight
        // loop instead of m·k = 128 interpreted lambda folds per encoded
        // vector (the dominant per-row encode cost)
        def l2(a: String, b: String): Column =
          graft.functions.VectorFunctions.floatL2Sq(col(a), col(b))
        def subspaces(src: org.apache.spark.sql.DataFrame, idCol: String, subName: String) =
          src.select(col("vec_id").as(idCol),
              explode(sequence(lit(0), lit(7))).as("j"), col("embedding"))
            .select(col(idCol), col("j"),
              expr("slice(embedding, int(j * 8 + 1), 8)").as(subName))
        val cents = subspaces(emb.filter(col("vec_id") < 16), "cent_id", "centv")
        // encode: nearest codebook entry per (vector, subspace). r15: the
        // argmin is the map-only VectorArgmin against the 8-row collected
        // per-subspace codebook (was: min(struct) aggregate — which already
        // collapsed the 16× product map-side, but still shuffled one row
        // per (vec, subspace) through a Sort+Exchange+SortAggregate pair;
        // now the corpus never shuffles at all — guide §2.4). Identical
        // (d2 asc, cent_id asc) tie-break as the oracle's ROW_NUMBER.
        val codes = subspaces(emb, "cid", "subv")
          .join(broadcast(cents.groupBy("j")
            .agg(sort_array(collect_list(struct(
              col("cent_id").cast("long").as("id"), col("centv")))).as("cands"))),
            Seq("j"))
          .select(col("cid"), col("j"),
            graft.functions.VectorFunctions.argminL2(col("cands"), col("subv"))
              .getField("id").as("code"))
        // ADC table: query × subspace × codebook entry, rounded + exact-sum
        val adc = subspaces(emb.filter(col("vec_id") < NumQueries), "qid", "qsubv")
          .join(broadcast(cents), Seq("j"))
          .select(col("qid"), col("j"), col("cent_id").as("code"),
            Q.grid6(l2("qsubv", "centv")).cast("decimal(16,6)").as("qd2"))
        val dist = codes.join(broadcast(adc), Seq("j", "code"))
          .filter(col("qid") =!= col("cid"))
          .groupBy("qid", "cid").agg(sum(col("qd2")).as("adist"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
        dist.withColumn("rk", row_number().over(wTop))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"),
            col("adist").cast("double").as("adist"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some {
        def duckL2(a: String, b: String) =
          s"""list_reduce(list_transform(range(1, 9),
             |  i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))),
             |  (acc, v) -> acc + v)""".stripMargin
        s"""WITH js AS (SELECT UNNEST(range(8)) AS j),
           |cents AS (SELECT vec_id AS cent_id, j, embedding[j*8+1 : j*8+8] AS centv
           |          FROM embeddings, js WHERE vec_id < 16),
           |vecs AS (SELECT vec_id AS cid, j, embedding[j*8+1 : j*8+8] AS subv
           |         FROM embeddings, js),
           |codes AS (
           |  SELECT cid, j, cent_id AS code FROM (
           |    SELECT v.cid, v.j, c.cent_id,
           |           ROW_NUMBER() OVER (PARTITION BY v.cid, v.j
           |                              ORDER BY ${duckL2("v.subv", "c.centv")}, c.cent_id) AS crk
           |    FROM vecs v JOIN cents c ON v.j = c.j) t
           |  WHERE crk = 1),
           |adc AS (
           |  SELECT q.cid AS qid, q.j, c.cent_id AS code,
           |         CAST(floor((${duckL2("q.subv", "c.centv")}) * 1000000.0) / 1000000.0
           |              AS DECIMAL(16,6)) AS qd2
           |  FROM vecs q JOIN cents c ON q.j = c.j WHERE q.cid < $NumQueries),
           |dist AS (
           |  SELECT qid, cid, SUM(qd2) AS adist
           |  FROM codes JOIN adc USING (j, code)
           |  WHERE qid != cid GROUP BY qid, cid),
           |ranked AS (
           |  SELECT qid, cid, adist,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS rk
           |  FROM dist)
           |SELECT qid, cid, CAST(adist AS DOUBLE) AS adist, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin
      }),

    // ---- ANN over the int8 codes (quantized search + exact parity) -------
    // Search on the COMPRESSED vectors: cosine over int8 codes, where the
    // integer dot products are exact in a bigint fold (≤ 127²·64 < 2^20) —
    // the memory-bound regime of a 100 TB ANN serving tier (4× smaller
    // vectors than float32 ⇒ 4× more candidates per scan). Same output
    // contract as similarity_topk; ranking is fully deterministic because
    // the only floats are one division and two sqrts over exact integers.
    "quantized_topk" -> Q(
      fn = (s, dir) => {
        val emb = quantized(Tables.load(s, dir, "embeddings"))
          .withColumn("qnorm", intDot("qv", "qv"))
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("qv").as("qa"), col("qnorm").as("na"))
        val c = emb.select(col("vec_id").as("cid"), col("qv").as("qb"), col("qnorm").as("nb"))
        val scored = broadcast(q).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("qsim",
            intDot("qa", "qb").cast("double") /
              (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("qsim").desc, col("cid"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= TopK)
          .select(col("qid"), col("cid"), Q.grid6(col("qsim")).as("qsim"), col("rk"))
          .orderBy("qid", "rk")
      },
      oracle = Some(
        s"""WITH $duckQuantizedCtes,
           |nq AS (SELECT vec_id, qv, ${duckIntDot("qv", "qv")} AS qnorm FROM q),
           |scored AS (
           |  SELECT a.vec_id AS qid, b.vec_id AS cid,
           |         CAST(${duckIntDot("a.qv", "b.qv")} AS DOUBLE)
           |           / (sqrt(CAST(a.qnorm AS DOUBLE)) * sqrt(CAST(b.qnorm AS DOUBLE))) AS qsim
           |  FROM nq a CROSS JOIN nq b
           |  WHERE a.vec_id < $NumQueries AND a.vec_id != b.vec_id),
           |ranked AS (
           |  SELECT qid, cid, qsim, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY qsim DESC, cid) AS rk
           |  FROM scored)
           |SELECT qid, cid, floor(qsim * 1000000.0) / 1000000.0 AS qsim, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- hard-negative mining for contrastive training (added r7) --------
    // The data half of training embedding models (DPR/SimCSE practice):
    // for each query vector, the candidates ranked just BELOW the top-k —
    // similar enough to be informative, far enough to (probably) not be
    // unlabeled positives. We take ranks 11–30 under exact cosine
    // (immediately below similarity_topk's k=10) and carry a same_label
    // flag: a hard negative sharing the anchor's label is a likely false
    // negative, and the flag is what a curation pass filters on.
    //
    // Scale shape: identical to similarity_topk — the query side is
    // broadcast, candidates stream map-side through the fused codegen
    // cosine, and the rank window partitions by qid (per-query top-30
    // buffers). At production query counts the window becomes the typed
    // TopK aggregator (similarity_topk_agg) with k=30 — same contract.
    // Float parity: the scoring/ranking spelling is byte-for-byte
    // similarity_topk's (gated green at all SFs); ranks band-filtered
    // AFTER ranking, so ties resolve identically on both engines.
    "hard_negatives" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"),
          col("label").as("clabel"))
        val scored = broadcast(q).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
        scored.withColumn("rk", row_number().over(w))
          .filter(col("rk") > TopK && col("rk") <= NegHi)
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"),
            col("rk"), (col("qlabel") === col("clabel")).cast("int").as("same_label"))
          .orderBy("qid", "rk")
      },
      oracle = Some(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
           |           FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv, label AS clabel FROM embeddings),
           |scored AS (
           |  SELECT qid, cid, qlabel, clabel,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q CROSS JOIN c WHERE qid != cid),
           |ranked AS (
           |  SELECT qid, cid, qlabel, clabel, sim,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk,
           |       CAST(CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS INTEGER) AS same_label
           |FROM ranked WHERE rk > $TopK AND rk <= $NegHi ORDER BY qid, rk""".stripMargin)),

    // ---- hard negatives via the typed TopK aggregator (added r10) --------
    // The production path SURVEY row 252 promised ("swap in the typed TopK
    // aggregator at production query counts"): identical output contract
    // and oracle as hard_negatives, but ranking through TopK.ranked with
    // k = NegHi — at most NegHi rows per query leave each map task instead
    // of every scored pair entering a rank window (TopK.ranked's scaladoc:
    // agg 1.63× at 1000 queries; the registry's 5-query window form stays
    // for the small-workload regime). Labels re-attach AFTER the bounded-buffer
    // ranking: the ranked frame is ≤ queries·NegHi rows, broadcast back
    // onto the corpus for clabel — never a second corpus-wide rank input.
    "hard_negatives_agg" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val q = emb.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("qlabel"))
        val c = emb.select(col("vec_id").as("cid"), col("embedding").as("cv"))
        val scored = broadcast(q.select("qid", "qv")).crossJoin(c)
          .filter(col("qid") =!= col("cid"))
          .withColumn("sim", cosineSimilarity(col("qv"), col("cv")))
        val ranked = graft.functions.TopK
          .ranked(scored.select("qid", "cid", "sim"), "qid", NegHi)
          .filter(col("rk") > TopK)
        val lab = emb.select(col("vec_id").as("cid"), col("label").as("clabel"))
        lab.join(broadcast(ranked), Seq("cid"))
          .join(broadcast(q.select("qid", "qlabel")), Seq("qid"))
          .select(col("qid"), col("cid"), Q.grid6(col("sim")).as("sim"),
            col("rk"), (col("qlabel") === col("clabel")).cast("int").as("same_label"))
          .orderBy("qid", "rk")
      },
      oracle = Some(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel
           |           FROM embeddings WHERE vec_id < $NumQueries),
           |c AS (SELECT vec_id AS cid, embedding AS cv, label AS clabel FROM embeddings),
           |scored AS (
           |  SELECT qid, cid, qlabel, clabel,
           |         ${duckDot("qv", "cv")} / (sqrt(${duckDot("qv", "qv")}) * sqrt(${duckDot("cv", "cv")})) AS sim
           |  FROM q CROSS JOIN c WHERE qid != cid),
           |ranked AS (
           |  SELECT qid, cid, qlabel, clabel, sim,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM scored)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim, CAST(rk AS INTEGER) AS rk,
           |       CAST(CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS INTEGER) AS same_label
           |FROM ranked WHERE rk > $TopK AND rk <= $NegHi ORDER BY qid, rk""".stripMargin)),

    // ---- trained residual-PQ codebooks (r14, VERDICT item 1) -------------
    // The training half of real IVFADC (Jégou 2011 §IV): per-subspace
    // k-means over coarse-centroid RESIDUALS — [[pqResidualTrain]]'s full
    // float-discipline story. Output is the final Lloyd update table
    // (subspace, code, dim, n_members, c_sum) — kmeans_train's shape
    // sliced 8× — so the oracle pins every trained codebook coordinate's
    // exact-decimal sum, not just a summary.
    //
    // Scale shape: 1 + PqTrainRounds corpus passes (coarse assign +
    // residual slice is pipelined into each round's scan); every shuffle
    // carries one row per (vec, subspace) via the map-side argmin
    // combine; the codebook itself is ≤ 8×16 rows — broadcast-sized at
    // any corpus size.
    "pq_train" -> Q(
      fn = (s, dir) =>
        pqResidualTrain(s, dir)._2
          .select(col("j").cast("long").as("subspace"), col("code"),
            col("dim").cast("int").as("dim"), col("n_members"),
            col("s6").cast("decimal(20,6)").cast("double").as("c_sum"))
          .orderBy("subspace", "code", "dim"),
      oracle = Some(
        s"""WITH $pqResidualTrainSql
           |SELECT CAST(j AS BIGINT) AS subspace, code, CAST(dim AS INTEGER) AS dim,
           |       n AS n_members, CAST(s AS DOUBLE) AS c_sum
           |FROM u$PqTrainRounds ORDER BY subspace, code, dim""".stripMargin)),

    // ---- residual-IVFADC retrieval (r14, VERDICT item 1) ------------------
    // The serving half: [[ivfPqResidualDist]] (same coarse probes as
    // ivf_pq_topk via the shared [[ivfProbes]]; candidates scored by
    // trained-residual ADC with per-probed-list query residuals) ranked by
    // the SAME [[ivfPqRankTopk]] tail — so the only difference from
    // ivf_pq_topk is what IVFADC prescribes: trained codebooks + residual
    // encoding. recall_pq_family measures what that buys over the raw-ADC
    // 0.36 recall floor.
    "ivf_pq_residual_topk" -> Q(
      fn = (s, dir) => ivfPqRankTopk(ivfPqResidualDist(s, dir)),
      oracle = Some(
        s"""WITH $ivfPqResidualDistSql,
           |ranked AS (
           |  SELECT qid, cid, adist,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS rk
           |  FROM dist)
           |SELECT qid, cid, CAST(adist AS DOUBLE) AS adist, CAST(rk AS INTEGER) AS rk
           |FROM ranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- the FULL modern serving stack (r14): trained residual PQ
    // shortlist → exact re-rank --------------------------------------------
    // Composes the round's two halves into the deployable end state every
    // FAISS-era system actually runs (IVFADC + re-ranking, Jégou 2011
    // §IV+§V together): [[ivfPqResidualDist]] (trained codebooks, residual
    // encoding) supplies the candidate scores, [[ivfPqRefineTopk]] takes
    // the top-50 shortlist and re-ranks by exact cosine — both stages the
    // SAME gated builders as their standalone audit queries, so
    // recall_pq_family's 5-leg table reads as one coherent ablation:
    // raw-flat → raw-pruned → +refine, and trained-residual → +refine.
    "ivf_pq_residual_refined_topk" -> Q(
      fn = (s, dir) => ivfPqRefineTopk(s, dir, ivfPqResidualDist(s, dir)),
      oracle = Some(
        s"""WITH $ivfPqResidualDistSql,
           |short AS (
           |  SELECT qid, cid FROM (
           |    SELECT qid, cid,
           |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, cid) AS srk
           |    FROM dist) t
           |  WHERE srk <= $RefineShortlist),
           |rr AS (
           |  SELECT s.qid, s.cid,
           |         ${duckCosSql("q.embedding", "c.embedding")} AS sim
           |  FROM short s
           |  JOIN embeddings q ON q.vec_id = s.qid
           |  JOIN embeddings c ON c.vec_id = s.cid),
           |rranked AS (
           |  SELECT qid, cid, sim,
           |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rk
           |  FROM rr)
           |SELECT qid, cid, floor(sim * 1000000.0) / 1000000.0 AS sim,
           |       CAST(rk AS INTEGER) AS rk
           |FROM rranked WHERE rk <= $TopK ORDER BY qid, rk""".stripMargin)),

    // ---- IVF with a TRAINED coarse quantizer (r14) -------------------------
    // pq_train trained the PQ codebooks; this trains the COARSE quantizer —
    // the other half of "the codebooks are untrained seeds". Centroids come
    // from the SHARED kmeansTrainLoop (kmeans_train's 3 Lloyd rounds over
    // full vectors, exact-decimal means — the oracle nests kmeansSqlCtes
    // verbatim, so the retriever provably serves from the audit query's own
    // training). Assignment and probing are L2 argmins against the trained
    // array<double> centroids (kmeans_train's proven l2Sq ↔ list_reduce
    // fold pair with (d2, cent_id) tie-breaks — FAISS's IVF metric);
    // ranking within probed lists is exact cosine, ivf_topk's tail, so
    // ivf_trained_recall can compare seed-coarse vs trained-coarse
    // retrievers leg-for-leg.
    //
    // Scale shape: 3 Lloyd corpus passes (the honest training cost; at
    // 100 TB train on a sample) + ivf_topk's serving shape — ≤16-row
    // trained-centroid broadcast, map-side argmin assignment (one row per
    // vector reaches the shuffle), probes = two tiny broadcasts.
    "ivf_trained_topk" -> Q(
      fn = (s, dir) => {
        val emb = Tables.load(s, dir, "embeddings")
        val cents = truncate(
          TrainQueries.kmeansTrainLoop(emb.select(col("vec_id"), col("embedding")))._1)
        ivfL2ServeFrom(emb, cents)
      },
      // plain concatenation, no outer stripMargin: the tail text is already
      // margin-stripped (the r14 DOUBLE-stripMargin gotcha)
      oracle = Some(
        "WITH " + TrainQueries.kmeansSqlCtes + ",\n" + ivfL2ServeTailSql("e"))),

    // ---- IVF with a SPHERICAL-k-means coarse quantizer (r14) --------------
    // The metric-aligned fix ivf_trained_recall's measurement prescribes:
    // train the SAME kmeansTrainLoop on L2-NORMALIZED vectors (spherical
    // k-means — on the unit sphere, L2 argmin ≡ cosine argmax, so the
    // trained cells finally partition the space the cosine serving metric
    // lives in). Normalization is engine-deterministic: each component is
    // ONE correctly-rounded division by the IEEE sqrt of the proven dot
    // fold (zero-norm vectors stay zero — the CASE guard keeps NaN out of
    // both engines identically). Assignment and probing are L2 argmins of
    // normalized vectors against the trained centroids; ranking is exact
    // cosine on the RAW floats (cosine is normalization-invariant, so the
    // truth metric is untouched) — ivf_topk's tail verbatim.
    "ivf_spherical_topk" -> Q(
      fn = (s, dir) => {
        val withN = normalizedEmb(Tables.load(s, dir, "embeddings"))
        val cents = truncate(TrainQueries.kmeansTrainLoop(
          withN.select(col("vec_id"), col("nv").as("embedding")),
          spherical = true)._1)
        ivfL2ServeAssignFrom(
          withN.select(col("vec_id"), col("embedding"), col("nv").as("assignv")),
          cents)
      },
      oracle = Some(
        "WITH " + TrainQueries.kmeansSqlCtesFrom(sphericalNormBodySql, spherical = true) +
          ",\n" + ivfL2ServeTailSql("e"))
  ))

  /** The L2-normalized corpus frame (vec_id, embedding, nv) — spherical
    * k-means' input, factored r15 so ivf_spherical_topk and the
    * shared-frame ivf_trained_recall provably normalize identically.
    * Each component is ONE correctly-rounded division by the IEEE sqrt of
    * the proven dot fold; zero-norm vectors stay zero (the CASE guard
    * keeps NaN out of both engines identically). */
  private[queries] def normalizedEmb(emb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("n2"))
      .select(col("vec_id"), col("embedding"),
        expr("""transform(embedding,
               |  x -> CASE WHEN n2 > 0.0D THEN CAST(x AS DOUBLE) / sqrt(n2)
               |            ELSE 0.0D END)""".stripMargin).as("nv"))

  /** Oracle twin of [[normalizedEmb]] — the `e(vec_id, emb)` body the
    * spherical oracles feed to kmeansSqlCtesFrom. */
  private[queries] def sphericalNormBodySql: String =
    s"""SELECT vec_id,
       |       list_transform(embedding,
       |         x -> CASE WHEN n2 > 0 THEN CAST(x AS DOUBLE) / sqrt(n2)
       |                   ELSE CAST(0 AS DOUBLE) END) AS emb
       |FROM (SELECT vec_id, embedding,
       |             ${duckDot("embedding", "embedding")} AS n2
       |      FROM embeddings)""".stripMargin

  /** The retriever surface; the composed eval deck lives in
    * [[AnnEvalQueries]] (split r15 to keep both files reviewable). */
  val all: Map[String, Q] = base
}
