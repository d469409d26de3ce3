package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables

/** §2.4 / north-star text-pipeline operators over `documents`: exact dedup,
  * MinHash+LSH near-dup, SimHash fingerprints, n-gram Jaccard, text stats,
  * token counting, language scoring, document fingerprinting.
  *
  * Portability notes for the DuckDB oracles:
  *   - all hashing is md5-over-strings — identical bytes on both engines, so
  *     min-hash signatures and band keys compare exactly as strings;
  *   - higher-order folds are written fold-left on both sides;
  *   - ratios are exact-int divisions cast to double (deterministic IEEE).
  */
object TextQueries {

  private[queries] val stopwords = Seq("the", "a", "of", "and", "in", "to", "is")
  private def sqList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** The lang_id stopword lists — one shared constant drives the classifier
    * (lang_id) AND its eval (lang_confusion) on both engines. */
  private val langLists = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "y", "que"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une"))

  /** documents + per-language stopword hit counts + the argmax prediction
    * (ties break en > de > es > fr, mirrored exactly in the SQL CASE). */
  private def langScored(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val withScores = langLists.foldLeft(
      Tables.load(s, dir, "documents").withColumn("toks", split(col("text"), " "))) {
      case (df, (lang, words)) =>
        df.withColumn(s"n_$lang",
          expr(s"size(filter(toks, t -> t IN (${sqList(words)})))"))
    }
    withScores.withColumn("predicted",
      when(col("n_en") >= col("n_de") && col("n_en") >= col("n_es") && col("n_en") >= col("n_fr"), "en")
        .when(col("n_de") >= col("n_es") && col("n_de") >= col("n_fr"), "de")
        .when(col("n_es") >= col("n_fr"), "es")
        .otherwise("fr"))
  }

  /** DuckDB CTE chain ending in `pred(doc_id, lang, n_*, predicted)` —
    * the oracle-side twin of [[langScored]]. */
  private val langPredSqlCtes: String = {
    val scoreCols = langLists.map { case (l, ws) =>
      s"len(list_filter(toks, t -> t IN (${sqList(ws)}))) AS n_$l"
    }.mkString(",\n       ")
    s"""t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
       |sc AS (SELECT doc_id, lang,
       |       $scoreCols
       |FROM t),
       |pred AS (SELECT doc_id, lang, n_en, n_de, n_es, n_fr,
       |       CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr THEN 'en'
       |            WHEN n_de >= n_es AND n_de >= n_fr THEN 'de'
       |            WHEN n_es >= n_fr THEN 'es'
       |            ELSE 'fr' END AS predicted
       |FROM sc)""".stripMargin
  }

  /** 3-token shingle list, distinct, as a Spark SQL HOF expression — the
    * form the DuckDB oracles mirror. The QUERY paths run the native
    * [[graft.functions.ShingleFunctions.shingleSet]] expression instead
    * (one JVM loop per doc vs one interpreted lambda per window;
    * ShingleFunctionsSpec pins element-for-element parity incl. order). */
  private[queries] val shinglesExpr =
    "array_distinct(transform(sequence(0, size(toks) - 3), i -> array_join(slice(toks, i + 1, 3), ' ')))"
  private val shinglesSqlDuck =
    "list_distinct(list_transform(range(len(toks) - 2), i -> array_to_string(toks[i + 1 : i + 3], ' ')))"

  // must equal MinhashUtil.NumHashes: the native signature expression emits
  // exactly that many slices, and concat_ws would silently SKIP a null
  // getItem on an out-of-range band index rather than fail
  private val NumHashes = graft.functions.MinhashUtil.NumHashes
  private val BandSize = 2 // 4 bands of 2 → catches Jaccard ≳ 0.5 reliably

  /** Per-(source, shingle) document-frequency cap for the n-gram Jaccard
    * candidate join. Shingles above the cap are dropped BEFORE the
    * self-join (candidate generation only — verification is exact), which
    * bounds each join key's fan-out to NgramDfCap² rows. Measured on the
    * corpus: every qualifying pair shares a df ≤ 2 shingle at all three
    * sfs, so 8 is output-invariant here and a 100-TB run tunes it the same
    * way (df of a near-dup run's shingles ≈ the dup-cluster size, not the
    * corpus size). */
  private[queries] val NgramDfCap = 8

  /** The MinHash+LSH near-dup PAIR pipeline (extracted r6 so the pair query
    * and dedup_minhash_clusters share it): codegen'd signatures → banded
    * equi-join candidates → exact-Jaccard verify at 0.5. Returns the
    * UNSORTED (a_id, b_id, jacc) frame plus the shingle cache handle.
    *
    * The shingle set is cached: it feeds the signature pass AND both sides
    * of the verify join — without it every branch re-runs the parquet scan
    * + tokenize + shingle HOF (at cluster scale this is a
    * persist(DISK_AND_MEMORY) of ~doc_count rows). Signatures are ONE
    * codegen'd map-side expression (same rewrite as SimhashFingerprint):
    * one md5 per shingle, the 8 "independent" hash functions are disjoint
    * 4-hex-char digest slices (16-bit minhashes — plenty for banding,
    * false band collisions are killed by the exact verify). No explode, no
    * min-agg shuffle. `.filter(isNotNull)`: a null signature (empty/null
    * shingle set) must VANISH from banding like the old min-agg's empty
    * group — concat_ws skips nulls, so unfiltered null sigs would all
    * collide on one degenerate band key (O(m²) spurious candidates). */
  /** All LSH band keys of the minhash signature column `sigs`, one md5 per
    * band — factored so the batch pair pipeline and the streaming
    * index/alert twin ([[graft.streaming.PriorityStreams.nearDupAlertStream]])
    * can never band differently. */
  private[graft] def bandKeysCol: org.apache.spark.sql.Column =
    array((0 until NumHashes / BandSize).map { b =>
      md5(concat_ws("|", lit(b.toString),
        col("sigs").getItem(2 * b), col("sigs").getItem(2 * b + 1)))
    }: _*)

  /** Banded minhash signature frame over any (doc_id, text, ...) input:
    * every original column is kept, plus the `shingles` set and the
    * exploded band key `bk`. Stateless projections only, so it applies
    * identically to a static corpus (building the near-dup INDEX) and to a
    * streaming micro-batch (the alert side) — the shared construction that
    * makes online dedup against the index sound. */
  private[graft] def bandedSignatures(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = docs.columns.map(col).toSeq
    docs
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
      .withColumn("sigs",
        graft.functions.MinhashFunctions.minhashSignature(col("shingles")))
      .filter(col("sigs").isNotNull)
      .select(keep ++ Seq(col("shingles"), explode(bandKeysCol).as("bk")): _*)
  }

  private[graft] def minhashPairsWithHandle(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val sh = Tables.load(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
      .select("doc_id", "shingles")
      .cache()
    val withSig = sh.select(col("doc_id"),
        graft.functions.MinhashFunctions.minhashSignature(col("shingles")).as("sigs"))
      .filter(col("sigs").isNotNull)
    // all band keys in ONE pass over the signatures (shared bandKeysCol)
    val bands = withSig.select(col("doc_id"),
        explode(bandKeysCol).as("bk"))
    val cand = bands.as("x").join(bands.as("y"), Seq("bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val pairs = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
      .withColumn("jacc",
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))))
      .filter(col("jacc") >= 0.5)
      .select("a_id", "b_id", "jacc")
    (pairs, sh)
  }

  /** Band-local twin of [[minhashPairsWithHandle]] — the text-side port of
    * [[SimilarityQueries.lshNearDupPairsBandLocalWithSig]] (r12, verdict
    * item 4): each band row carries its own SHINGLE SET into the band
    * self-join, the exact-Jaccard verify runs PIPELINED on the join output,
    * and only verified pairs reach the distinct — the exact-candidate
    * path's per-candidate shingle-carrier joins (two array shuffles per
    * CANDIDATE) cannot spill, because candidates are never materialized.
    * The price is the deterministic trade the cosine twin documents: the
    * shingle arrays shuffle numBands(=4)× corpus on each join branch
    * ALWAYS, vs the exact path's 2× per candidate — band-local wins
    * exactly in the spill regime (candidates ≫ 4n), measured at the sf10
    * decade by [[graft.MinhashDecade]]. Result-identical by construction:
    * identical band keys ([[bandKeysCol]]), identical Jaccard predicate,
    * and verify-then-distinct ≡ distinct-then-verify for a deterministic
    * predicate (spec-pinned, R12BatchSpec).
    *
    * Returns the UNSORTED (a_id, b_id, jacc) frame plus the cached banded
    * frame backing both join branches — callers unpersist() exactly that
    * frame after materializing the pairs (never catalog.clearCache()). */
  private[graft] def minhashPairsBandLocalWithHandle(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val bands = bandedSignatures(
        Tables.load(s, dir, "documents").select("doc_id", "text"))
      .select(col("doc_id"), col("shingles"), col("bk"))
      .cache()
    val pairs = bands.as("x").join(bands.as("y"), Seq("bk"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .withColumn("jacc",
        size(array_intersect(col("x.shingles"), col("y.shingles"))).cast("double")
          / size(array_union(col("x.shingles"), col("y.shingles"))))
      .filter(col("jacc") >= 0.5)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"), col("jacc"))
      .distinct()
    (pairs, bands)
  }

  /** Min-label cluster ids over a verified near-dup pair frame
    * `(a_id, b_id, …)` — the shared CC step of the pair-graph consumers
    * (clusters / survivorship / profile). */
  private[graft] def clusterLabels(
      pairsDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pairs = pairsDf.select(col("a_id"), col("b_id"))
    Q.connectedComponents(
      pairs.union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))))
  }

  /** source×source verified-duplicate-pair matrix off a pair frame. */
  private[graft] def dupMatrixFrom(
      pairsDf: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairsDf
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), Seq("b_id"))
      .groupBy(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_x", "source_y")
  }

  /** Per-cluster survivor choice + reclaim accounting off CC labels. */
  private[graft] def survivorshipFrom(
      labels: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
      .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid"))).as("m"),
        sum(col("n_chars")).as("total_chars"))
      .select(col("cluster"), (-col("m.negid")).as("survivor_id"),
        col("n_members"), (col("total_chars") - col("m.nc")).as("reclaimed_chars"))
      .orderBy("cluster")

  /** Cluster-size histogram off CC labels. */
  private[graft] def clusterProfileFrom(
      labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_redundant"))
      .orderBy("cluster_size")

  /** Shared-pipeline entry for multi-consumer sessions (r8, VERDICT item):
    * the gate runs source_dup_matrix / dedup_minhash_clusters /
    * dedup_survivorship / dup_cluster_profile as independent queries, so
    * each registry entry necessarily re-runs the banded candidate
    * pipeline — but a library caller auditing a 100 TB corpus runs them
    * TOGETHER, and must not pay for candidate generation four times.
    * This returns the verified pair frame CACHED plus a release thunk;
    * feed it to [[clusterLabels]] / [[dupMatrixFrom]] /
    * [[survivorshipFrom]] / [[clusterProfileFrom]] (results are
    * row-identical to the registry queries — spec-pinned), then call the
    * thunk. At cluster scale, swap `.cache()` for a persisted parquet of
    * the pair frame and reuse it across audit jobs. */
  def nearDupPairsSharedHandle(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, () => Unit) = {
    val (pairs, shCache) = minhashPairsWithHandle(s, dir)
    val cached = pairs.cache()
    (cached, () => { cached.unpersist(); shCache.unpersist(); () })
  }

  /** Exploded (source, doc_id, shingle) rows of a shingle frame. */
  private def ngramExploded(sh: org.apache.spark.sql.DataFrame) =
    sh.select(col("source"), col("doc_id"), explode(col("shingles")).as("sh"))

  /** The HOT shingle list: per-source document frequency > dfCap. Hot
    * shingles are few at ANY scale — boilerplate runs, not the corpus — so
    * this list broadcasts even at 100 TB (unlike the per-DOC structures
    * derived from it, which cover every doc containing boilerplate). */
  private def ngramHot(ex: org.apache.spark.sql.DataFrame, dfCap: Int) =
    ex.groupBy("source", "sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select("source", "sh")

  /** Candidate (source, a_id, b_id) pairs sharing at least one shingle whose
    * per-source document frequency is ≤ dfCap — the df-capped self-join,
    * exposed for the plan-shape specs. */
  private[queries] def ngramCandidates(
      sh: org.apache.spark.sql.DataFrame, dfCap: Int): org.apache.spark.sql.DataFrame = {
    val ex = ngramExploded(sh)
    val cold = ex.join(broadcast(ngramHot(ex, dfCap)), Seq("source", "sh"), "left_anti")
    cold.as("a").join(cold.as("b"),
        col("a.source") === col("b.source") && col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.source").as("source"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
  }

  /** Exact n-gram Jaccard over all pairs sharing ≥1 cold (df ≤ dfCap)
    * shingle: |A∩B| is the COUNT of shared cold shingles from the capped
    * equi-self-join, CORRECTED by the shared hot shingles — each doc's hot
    * shingles form a tiny array (≤ the handful of boilerplate shingles),
    * so the correction is a size(array_intersect) over KB-scale lists.
    * |A∪B| = |A| + |B| − |A∩B|. Profiled at sf0.1: this count-based shape
    * runs the verify in aggregate time (0.8-1.4 s end-to-end) where a
    * full-array re-intersection of the ~56k candidates costs 3.3 s — and
    * unlike the uncapped r5 join it cannot go quadratic on a hot key.
    * The hs joins are deliberately NOT broadcast-hinted: at web scale
    * every doc carrying boilerplate is in `hs`, which can be a large
    * fraction of the corpus — it equi-joins on doc id instead. */
  /** Per-pair intersection statistics (source, a_id, b_id, n_inter, sz_a,
    * sz_b) for all pairs sharing ≥1 cold shingle — the shared core of the
    * Jaccard and containment queries. */
  private[queries] def ngramPairStats(
      sh: org.apache.spark.sql.DataFrame, dfCap: Int): org.apache.spark.sql.DataFrame = {
    val ex = ngramExploded(sh)
    // r16 batch 3: hot feeds three branches (both anti-join sides via the
    // cold self-join, plus the hs hot-list join), and each re-ran the full
    // shingle explode + (source, sh) aggregation above the shingle cache
    // (ReuseCheck: 15 executed scans on ngram_jaccard_pairs, 0 reused).
    // The hot list is tiny at any scale (boilerplate runs, not the corpus)
    // — materialize it once; the explodes below read the cache.
    val hot = Q.truncate(ngramHot(ex, dfCap))
    val cold = ex.join(broadcast(hot), Seq("source", "sh"), "left_anti")
    val nCold = cold.as("a").join(cold.as("b"),
        col("a.source") === col("b.source") && col("a.sh") === col("b.sh") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.source").as("source"),
        col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_cold"))
    val sizes = sh.select(col("doc_id"), size(col("shingles")).as("sz"))
    val hs = ex.join(broadcast(hot), Seq("source", "sh"))
      .groupBy("doc_id").agg(collect_list(col("sh")).as("hs"))
    val emptyArr = typedlit(Seq.empty[String])
    nCold
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sz_a")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sz_b")), Seq("b_id"))
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("hs_a")), Seq("a_id"), "left")
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("hs_b")), Seq("b_id"), "left")
      .withColumn("n_inter", col("n_cold") +
        size(array_intersect(
          coalesce(col("hs_a"), emptyArr), coalesce(col("hs_b"), emptyArr))))
      .select("source", "a_id", "b_id", "n_inter", "sz_a", "sz_b")
  }

  private[queries] def ngramJaccardPairs(
      sh: org.apache.spark.sql.DataFrame,
      dfCap: Int,
      minJacc: Double): org.apache.spark.sql.DataFrame =
    ngramPairStats(sh, dfCap)
      .withColumn("jacc",
        col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jacc") >= minJacc)
      .select("source", "a_id", "b_id", "jacc")

  /** Entity-resolution candidate pairs (a_id, b_id, lev): blocking on the
    * 24-char text prefix with the >16-member hot-block anti-join, verified
    * by banded Levenshtein ≤ 24 on the 120-char prefixes — extracted r7 so
    * er_blocking_pairs and er_entity_clusters share one pipeline (see the
    * er_blocking_pairs entry for the full design notes). */
  private[queries] def erPairs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), substring(col("text"), 1, 24).as("blk"))
    val hot = docs.groupBy("blk").agg(count(lit(1)).as("m"))
      .filter(col("m") > 16).select("blk")
    val cold = docs.join(broadcast(hot), Seq("blk"), "left_anti")
    val x = cold.select(col("blk"), col("doc_id").as("a_id"),
      substring(col("text"), 1, 120).as("ta"))
    val y = cold.select(col("blk"), col("doc_id").as("b_id"),
      substring(col("text"), 1, 120).as("tb"))
    // 3-arg levenshtein: the banded O(k·n) form — rows beyond the
    // threshold return -1 after an early exit instead of paying the
    // full O(n²) DP, and within-threshold distances are identical to
    // the 2-arg form (so the DuckDB oracle is untouched)
    x.join(y, Seq("blk")).filter(col("a_id") < col("b_id"))
      .withColumn("lev", levenshtein(col("ta"), col("tb"), 24))
      .filter(col("lev") >= 0)
      .select(col("a_id"), col("b_id"), col("lev"))
  }

  /** DuckDB CTE chain ending in `erp(a_id, b_id)` — the oracle-side twin of
    * [[erPairs]] (shared by er_blocking_pairs and er_entity_clusters). */
  private val erPairsSqlCtes: String =
    """d AS (SELECT doc_id, text, substring(text, 1, 24) AS blk FROM documents),
      |hot AS (SELECT blk FROM d GROUP BY blk HAVING COUNT(*) > 16),
      |cold AS (SELECT * FROM d WHERE blk NOT IN (SELECT blk FROM hot)),
      |erp AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
      |               CAST(levenshtein(substring(x.text, 1, 120),
      |                                substring(y.text, 1, 120)) AS INTEGER) AS lev
      |        FROM cold x JOIN cold y ON x.blk = y.blk AND x.doc_id < y.doc_id
      |        WHERE levenshtein(substring(x.text, 1, 120), substring(y.text, 1, 120)) <= 24)""".stripMargin

  /** 32-bit SimHash per doc over its distinct 3-token shingles: per shingle
    * md5; bit i = majority vote of hex-char i's top nibble bit (char ∈
    * '89abcdef' ⟺ >= '8' bytewise). Shingles — not single tokens — because
    * this corpus shares one small vocabulary: token-level fingerprints are
    * correlated across unrelated docs and banding degenerates toward
    * all-pairs; shingles are distinctive, so unrelated docs sit ~16 bits
    * apart and only true near-dups fall inside the hamming threshold. */
  private def simhashDF(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // Whole-document vote loop in ONE codegen'd expression
    // (functions.SimhashFingerprint): no explode to (doc, shingle) rows, no
    // shuffle for the vote aggregate — the fingerprint pass is map-only.
    // (History: round 1 shipped explode + md5 + 33-sum agg; a typed
    // vote-counting Aggregator benched ~2× slower than those declarative
    // sums, and a per-doc HOF fold 2-3× slower still. The native expression
    // beats all three — profiled ~4× on the fingerprint query at sf0.1.)
    // The canonical bitstring and the four 8-bit band ints (b0..b3, used by
    // simhash_pairs' band join + xor/popcount hamming) are pure bit
    // arithmetic over the packed fingerprint; Catalyst prunes the band
    // columns wherever only `simhash` is consumed.
    graft.Tables.load(s, dir, "documents")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .withColumn("fp",
        graft.functions.SimhashFunctions.simhashFingerprint(graft.functions.ShingleFunctions.shingleSet(col("toks"))))
      .select(Seq(
        col("doc_id"),
        lpad(conv(col("fp"), 10, 2), 32, "0").as("simhash")) ++
        (0 until 4).map { c =>
          // band c covers hex chars 8c+1..8c+8 = fingerprint bits 31-8c
          // down to 24-8c (char i ↔ bit 32-i), MSB-first within the band
          shiftright(col("fp"), 24 - 8 * c).bitwiseAND(255).cast("int").as(s"b$c")
        }: _*)
  }

  /** DuckDB CTE computing the same 32-bit fingerprints as [[simhashDF]]. */
  private val simhashSqlCte: String = {
    val bits = (1 to 32).map(i =>
      s"CASE WHEN SUM(CASE WHEN substring(h, $i, 1) >= '8' THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |shs AS (SELECT doc_id, UNNEST($shinglesSqlDuck) AS sh FROM t WHERE len(toks) >= 3),
       |h AS (SELECT doc_id, md5(sh) AS h FROM shs),
       |fp AS (SELECT doc_id, $bits AS simhash FROM h GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB CTE chain (for a `WITH RECURSIVE` prefix) ending in
    * `lab(doc_id, cluster)` — the recursive-CTE transitive closure over the
    * verified MinHash near-dup pair set, shared by the dedup_minhash_clusters
    * and dup_cluster_profile oracles (oracle-side twin of
    * [[minhashPairsWithHandle]] + [[Q.connectedComponents]]). */
  /** DuckDB CTE chain ending in `pairs(a_id, b_id)` — the oracle-side twin
    * of [[minhashPairsWithHandle]], factored (r8) so the cluster closure
    * and split_leakage oracles provably band identically. */
  private val minhashPairsSqlCtes: String = {
    val sigs = (0 until NumHashes).map(k =>
      s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
    val bandSelects = (0 until NumHashes / BandSize).map(b =>
      s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
       |sig AS (SELECT doc_id, shingles,
       |       $sigs
       |FROM sh),
       |bands AS (
       |  $bandSelects
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
       |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |),
       |pairs AS (
       |  SELECT a_id, b_id FROM cand
       |  JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id
       |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
       |         / len(list_distinct(a.shingles || b.shingles)) >= 0.5)""".stripMargin
  }

  private val minhashClusterSqlCtes: String = {
    s"""$minhashPairsSqlCtes,
       |sym AS (SELECT a_id AS s, b_id AS d FROM pairs
       |        UNION ALL SELECT b_id, a_id FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM sym
       |  UNION
       |  SELECT r.s, e2.d FROM reach r JOIN sym e2 ON r.d = e2.s WHERE r.s != e2.d
       |),
       |lab AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
       |        FROM reach GROUP BY s)""".stripMargin
  }

  val all: Map[String, Q] = Map(

    // ---- exact dedup: survivor per normalized-text hash ------------------
    "dedup_exact" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .groupBy(md5(lower(trim(col("text")))).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies")
          .orderBy("doc_id")
      },
      oracle = Some(
        """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
          |FROM documents GROUP BY md5(LOWER(TRIM(text)))
          |ORDER BY doc_id""".stripMargin),
      headline = true),

    // ---- dedup with a keep-longest survivor policy -----------------------
    // Same normalized-hash grouping as dedup_exact with an arg_max survivor
    // policy (longest copy, doc_id tie-break). Note: exact-hash groups have
    // identical text, so lengths tie and the tie-break decides — the policy
    // axis only bites when the same aggregation runs over NEAR-dup clusters
    // (e.g. minhash band groups); this query pins the composite-key
    // arg_max machinery both engines must agree on.
    "dedup_keep_longest" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .groupBy(md5(lower(trim(col("text")))).as("h"))
          .agg(
            // composite (n_chars desc-wins, doc_id asc tie-break) packed into
            // one bigint key — portable where struct ordering keys are not
            max_by(col("doc_id"),
              col("n_chars") * lit(1000000000000L) + (lit(999999999999L) - col("doc_id")))
              .as("doc_id"),
            count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies")
          .orderBy("doc_id")
      },
      oracle = Some(
        """SELECT arg_max(doc_id, n_chars * 1000000000000 + (999999999999 - doc_id)) AS doc_id,
          |       COUNT(*) AS n_copies
          |FROM documents GROUP BY md5(LOWER(TRIM(text)))
          |ORDER BY doc_id""".stripMargin)),

    // ---- text stats: tokens, lengths, stopword ratio ---------------------
    "text_stats" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("toks")).as("n_tokens"),
            length(col("text")).as("text_len"),
            expr(s"size(filter(toks, t -> t IN (${sqList(stopwords)})))").as("n_stop"),
            (expr(s"CAST(size(filter(toks, t -> t IN (${sqList(stopwords)}))) AS DOUBLE)")
              / size(col("toks"))).as("stop_ratio"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
           |SELECT doc_id,
           |       CAST(len(toks) AS INTEGER) AS n_tokens,
           |       CAST(length(text) AS INTEGER) AS text_len,
           |       CAST(len(list_filter(toks, t -> t IN (${sqList(stopwords)}))) AS INTEGER) AS n_stop,
           |       CAST(len(list_filter(toks, t -> t IN (${sqList(stopwords)}))) AS DOUBLE) / len(toks) AS stop_ratio
           |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- BPE-ish regex token counting ------------------------------------
    "token_count_regex" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(
            col("doc_id"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("n_bpeish"),
            size(split(col("text"), " ")).as("n_ws"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """SELECT doc_id,
          |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish,
          |       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- tokenizer fertility by source × lang (added r7) -----------------
    // The tokenizer-efficiency datacard: fertility = BPE-ish subword tokens
    // per whitespace word (the standard multilingual-tokenizer health
    // number — a lang/source whose fertility runs high pays more sequence
    // length per word of content) plus chars-per-token compression. Uses
    // the SAME token regex as token_count_regex so the two surfaces can
    // never disagree on what a token is.
    //
    // Scale shape: stateless per-row projection → one (source, lang) agg
    // with map-side combine; output is |sources|×|langs|. Float parity:
    // all sums are exact ints; the two ratios are each ONE bare
    // correctly-rounded division.
    "tokenizer_fertility" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(col("source"), col("lang"),
            size(split(col("text"), " ")).as("ws"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("bp"),
            length(col("text")).as("ch"))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ws")).as("n_ws"),
            sum(col("bp")).as("n_bpeish"),
            sum(col("ch")).as("n_chars"))
          .select(col("source"), col("lang"), col("n_docs"), col("n_ws"),
            col("n_bpeish"), col("n_chars"),
            (col("n_bpeish").cast("double") / col("n_ws")).as("fertility"),
            (col("n_chars").cast("double") / col("n_bpeish")).as("chars_per_token"))
          .orderBy("source", "lang")
      },
      oracle = Some(
        """SELECT source, lang, COUNT(*) AS n_docs,
          |       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_ws,
          |       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_bpeish,
          |       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
          |       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE)
          |         / SUM(len(string_split(text, ' '))) AS fertility,
          |       CAST(SUM(length(text)) AS DOUBLE)
          |         / SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS chars_per_token
          |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin)),

    // ---- Zipf's-law fit over the rank-frequency curve (added r7) ---------
    // The corpus-statistics law check: least-squares slope/intercept of
    // ln(freq) against ln(rank) over the top-100 vocabulary — natural text
    // runs slope ≈ −1 (Zipf 1949); a corpus whose slope collapses toward 0
    // is synthetic/templated, one that steepens is boilerplate-dominated.
    // The distributed-regression shape itself is the point: the lns are
    // [[LnGrid]] integer micro-units BY CONSTRUCTION (r8 — the rounded-
    // libm grid was engine-build-dependent), so ALL
    // sufficient statistics (ΣX, ΣY, ΣXY, ΣX²) are exact BIGINT sums —
    // order-independent, reproducible on any partitioning — and the two
    // 1e-12 scale factors CANCEL in the slope ratio, leaving one division
    // of exact DECIMAL(38,0) integers. (A first attempt on decimal(12,6)
    // points hash-failed: n·Σxy pushes past precision 38 and Spark's
    // precision-loss truncation differs from DuckDB's — integers dodge
    // the entire decimal-typing divergence surface.) The intercept is the
    // one place a double (slope) re-enters arithmetic: a fixed 4-op chain
    // spelled identically on both engines.
    //
    // Scale shape: vocab agg with map-side combine → TakeOrderedAndProject
    // keeps only 100 rows; everything after runs on ≤100 rows (the rank
    // window sits strictly over the limit — PlanGuard R2's bounded case).
    // ---- Good-Turing frequency smoothing table (added r11) ---------------
    // The classic unseen-mass estimator (Good 1953; the smoothing beneath
    // Katz backoff), at the corpus's 5-token-window grain — the same grain
    // the dedup family keys on (the 31-type synthetic unigram vocabulary
    // has min count 26, so unigram GT would be vacuous; 5-gram counts are
    // singleton-rich, exactly GT's regime): the frequency-of-frequencies
    // table N_r for r ≤ 10, the GT-discounted count
    // r* = (r+1)·N_{r+1}/N_r per row, and the unseen probability mass
    // P₀ = N₁/N — how much probability a 5-gram LM trained on this corpus
    // should reserve for never-seen windows (pairs with heaps_law_fit's
    // vocabulary growth, vocab_coverage's OOV rate, and ngram_novelty).
    // Window identity is the rolling fingerprint on the Spark side and
    // md5 in the oracle (the dup_ngram_ratio convention — the N_r
    // histogram depends only on the count multiset, identical under any
    // injective window key). All counts exact int64; r* and P₀ fixed
    // two-op IEEE chains over exact ints, bit-identical cross-engine.
    //
    // Scale shape: the shared rolling-gram digest pass → ONE (gh) hash agg
    // with map-side combine → frequency-of-frequencies agg over the count
    // domain (≤ √N distinct counts) → ≤10-row output with a tiny r+1
    // self-join and a 1-row totals broadcast.
    "good_turing_smoothing" -> Q(
      fn = (s, dir) => {
        val grams = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 5)
          .select(explode(graft.functions.WindowMd5Functions
            .rollingWindowHashes(col("toks"), 5)).as("gh"))
          .groupBy("gh").agg(count(lit(1)).as("c"))
        val ff = grams.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        val tot = grams.agg(sum(col("c")).as("n_windows"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n1"))
        ff.filter(col("r") <= 10)
          .join(ff.select((col("r") - 1).as("r"), col("n_r").as("n_next")),
            Seq("r"), "left")
          .crossJoin(broadcast(tot))
          .select(col("r"), col("n_r"),
            coalesce(col("n_next"), lit(0L)).as("n_next"),
            ((col("r") + 1).cast("double")
              * coalesce(col("n_next"), lit(0L)).cast("double")
              / col("n_r").cast("double")).as("r_star"),
            col("n_windows"),
            (col("n1").cast("double") / col("n_windows").cast("double"))
              .as("p0_unseen"))
          .orderBy("r")
      },
      oracle = Some(
        """WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
          |occ AS (SELECT UNNEST(list_transform(range(len(toks) - 4),
          |                 i -> md5(array_to_string(toks[i + 1 : i + 5], ' ')))) AS gh
          |        FROM d WHERE len(toks) >= 5),
          |u AS (SELECT gh, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY gh),
          |ff AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM u GROUP BY c),
          |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_windows,
          |               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
          |        FROM u)
          |SELECT a.r, a.n_r, COALESCE(b.n_r, 0) AS n_next,
          |       CAST(a.r + 1 AS DOUBLE) * CAST(COALESCE(b.n_r, 0) AS DOUBLE)
          |         / CAST(a.n_r AS DOUBLE) AS r_star,
          |       n_windows,
          |       CAST(n1 AS DOUBLE) / CAST(n_windows AS DOUBLE) AS p0_unseen
          |FROM ff a LEFT JOIN ff b ON b.r = a.r + 1 CROSS JOIN tot
          |WHERE a.r <= 10 ORDER BY a.r""".stripMargin)),

    "zipf_fit" -> Q(
      fn = (s, dir) => {
        val vocab = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("t"))
        val ranked = vocab.orderBy(col("c").desc, col("t")).limit(100)
          .withColumn("rank", row_number().over(w))
        val pts = LnGrid.withLn6(
            LnGrid.withLn6(ranked, col("rank").cast("long"), lit(1L), "xm", "__zx_"),
            col("c"), lit(1L), "ym", "__zy_")
          .select(col("xm"), col("ym"))
        pts
          .agg(count(lit(1)).as("n"), sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
            sum(col("xm") * col("ym")).as("sxy"), sum(col("xm") * col("xm")).as("sxx"))
          .withColumn("slope",
            (col("n").cast("decimal(3,0)") * col("sxy").cast("decimal(19,0)")
              - col("sx").cast("decimal(18,0)") * col("sy").cast("decimal(18,0)")).cast("double")
              / (col("n").cast("decimal(3,0)") * col("sxx").cast("decimal(19,0)")
                - col("sx").cast("decimal(18,0)") * col("sx").cast("decimal(18,0)")).cast("double"))
          .select(col("n").cast("int").as("n_terms"), col("slope"),
            ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
              / (col("n").cast("double") * lit(1000000.0d))).as("intercept"))
          .orderBy("n_terms")
      },
      oracle = Some(
        s"""WITH v AS (SELECT UNNEST(string_split(text, ' ')) AS t FROM documents),
          |u AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY t),
          |r AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, t) AS BIGINT) AS rank FROM u
          |      QUALIFY rank <= 100),
          |${LnGrid.sqlCtes("r", "rank", "1", "xm", "zx_")},
          |${LnGrid.sqlCtes("zx_out", "c", "1", "ym", "zy_")},
          |p AS (SELECT xm, ym FROM zy_out),
          |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |             CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
          |             CAST(SUM(xm * ym) AS BIGINT) AS sxy,
          |             CAST(SUM(xm * xm) AS BIGINT) AS sxx FROM p),
          |sl AS (SELECT n, sx, sy,
          |              CAST(CAST(n AS DECIMAL(3,0)) * CAST(sxy AS DECIMAL(19,0))
          |                   - CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DOUBLE)
          |                / CAST(CAST(n AS DECIMAL(3,0)) * CAST(sxx AS DECIMAL(19,0))
          |                   - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS DOUBLE) AS slope
          |       FROM a)
          |SELECT CAST(n AS INTEGER) AS n_terms, slope,
          |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
          |         / (CAST(n AS DOUBLE) * 1000000.0) AS intercept
          |FROM sl ORDER BY n_terms""".stripMargin)),

    // ---- Heaps'-law fit over the vocabulary growth curve (added r7) ------
    // The companion law to zipf_fit: V(N) ≈ K·N^β — how fast does the
    // vocabulary grow as the corpus is read? Natural text runs β ≈ 0.4-0.6;
    // β near 0 means the vocabulary has saturated (templated corpus),
    // β near 1 means near-unbounded novelty (noise/IDs). The curve is
    // sampled at 64 doc-id checkpoints, NOT per document: each token's
    // FIRST-occurrence doc (one vocab-sized agg) is binned into 64
    // equal-width doc-id buckets, so the cumulative windows run over a
    // CONSTANT-size grid no matter the corpus size — the per-doc form would
    // put a corpus-sized frame under one window partition. The regression
    // is zipf_fit's exact-integer micro-unit machinery: 6 dp-rounded bare
    // lns lifted to BIGINT micro-units, all sufficient statistics exact
    // integer sums, slope = one division of exact DECIMAL(38,0) products.
    //
    // Scale shape: two corpus-linear hash aggs (token → first doc; bucket →
    // token count), each collapsing to ≤ vocab / ≤ 64 rows; the windows and
    // regression run on the 64-row grid. The max-doc-id bound is a 1-row
    // broadcast.
    "heaps_law_fit" -> Q(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val md = docs.agg(max(col("doc_id")).as("md"))
        val tokb = toks.crossJoin(broadcast(md))
          .select(expr("(doc_id * 64) div (md + 1)").as("b"))
          .groupBy("b").agg(count(lit(1)).as("n_toks"))
        val newt = toks.groupBy("tok").agg(min(col("doc_id")).as("fd"))
          .crossJoin(broadcast(md))
          .select(expr("(fd * 64) div (md + 1)").as("b"))
          .groupBy("b").agg(count(lit(1)).as("new_types"))
        // 64-row grid: the global-ORDER window is over a bucket-domain-
        // bounded aggregate (PlanGuard R2's bounded case, like zipf_fit)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("b").rowsBetween(Long.MinValue, 0)
        val cum = tokb.join(newt, Seq("b"), "left")
          .withColumn("nn", sum(col("n_toks")).over(w))
          .withColumn("v", sum(coalesce(col("new_types"), lit(0L))).over(w))
        val pts = LnGrid.withLn6(
            LnGrid.withLn6(cum, col("nn"), lit(1L), "xm", "__hx_"),
            col("v"), lit(1L), "ym", "__hy_")
          .select(col("xm"), col("ym"))
        pts
          .agg(count(lit(1)).as("n"), sum(col("xm")).as("sx"), sum(col("ym")).as("sy"),
            sum(col("xm") * col("ym")).as("sxy"), sum(col("xm") * col("xm")).as("sxx"))
          .withColumn("beta",
            (col("n").cast("decimal(3,0)") * col("sxy").cast("decimal(19,0)")
              - col("sx").cast("decimal(18,0)") * col("sy").cast("decimal(18,0)")).cast("double")
              / (col("n").cast("decimal(3,0)") * col("sxx").cast("decimal(19,0)")
                - col("sx").cast("decimal(18,0)") * col("sx").cast("decimal(18,0)")).cast("double"))
          .select(col("n").cast("int").as("n_points"), col("beta"),
            ((col("sy").cast("double") - col("beta") * col("sx").cast("double"))
              / (col("n").cast("double") * lit(1000000.0d))).as("ln_k"))
          .orderBy("n_points")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
          |md AS (SELECT MAX(doc_id) AS md FROM documents),
          |tb AS (SELECT (doc_id * 64) // (md + 1) AS b, COUNT(*) AS n_toks FROM t, md GROUP BY 1),
          |fo AS (SELECT tok, MIN(doc_id) AS fd FROM t GROUP BY tok),
          |nt AS (SELECT (fd * 64) // (md + 1) AS b, COUNT(*) AS new_types FROM fo, md GROUP BY 1),
          |g AS (SELECT tb.b, tb.n_toks, COALESCE(nt.new_types, 0) AS new_types
          |      FROM tb LEFT JOIN nt ON tb.b = nt.b),
          |c AS (SELECT b,
          |        CAST(SUM(n_toks) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS nn,
          |        CAST(SUM(new_types) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS v
          |      FROM g),
""".stripMargin + LnGrid.sqlCtes("c", "nn", "1", "xm", "hx_") + ",\n" +
          LnGrid.sqlCtes("hx_out", "v", "1", "ym", "hy_") + """,
          |p AS (SELECT xm, ym FROM hy_out),
          |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |             CAST(SUM(xm) AS BIGINT) AS sx, CAST(SUM(ym) AS BIGINT) AS sy,
          |             CAST(SUM(xm * ym) AS BIGINT) AS sxy,
          |             CAST(SUM(xm * xm) AS BIGINT) AS sxx FROM p),
          |sl AS (SELECT n, sx, sy,
          |              CAST(CAST(n AS DECIMAL(3,0)) * CAST(sxy AS DECIMAL(19,0))
          |                   - CAST(sx AS DECIMAL(18,0)) * CAST(sy AS DECIMAL(18,0)) AS DOUBLE)
          |                / CAST(CAST(n AS DECIMAL(3,0)) * CAST(sxx AS DECIMAL(19,0))
          |                   - CAST(sx AS DECIMAL(18,0)) * CAST(sx AS DECIMAL(18,0)) AS DOUBLE) AS beta
          |       FROM a)
          |SELECT CAST(n AS INTEGER) AS n_points, beta,
          |       (CAST(sy AS DOUBLE) - beta * CAST(sx AS DOUBLE))
          |         / (CAST(n AS DOUBLE) * 1000000.0) AS ln_k
          |FROM sl ORDER BY n_points""".stripMargin)),

    // ---- per-token burstiness: Fano factor over documents (added r7) -----
    // Church & Gale's burstiness diagnostic, per token: the Fano factor
    // F = Var(c)/E(c) of the token's per-document count over ALL docs.
    // A Poisson-scattered token runs F ≈ 1; F ≫ 1 means the token CLUMPS
    // (topical/boilerplate — its occurrences concentrate in few docs); the
    // corpus-level twin fano_burstiness does the same over event-stream
    // days. Companion to zipf/heaps: frequency says how often, burstiness
    // says how clumped. Population-variance algebra keeps everything in
    // exact integers until one division:
    //   F = (D·Σc² − (Σc)²) / (D·Σc)
    // (zero-count docs contribute 0 to both sums, so only the (tok, doc)
    // agg is needed plus the 1-row doc count D). Top-100 tokens by corpus
    // frequency — TakeOrderedAndProject, never a global sort. Products go
    // through DECIMAL(18,0) — NOT 19 — because DuckDB types the product at
    // width w1+w2 and the subtraction at +1 more: 19s would land on width
    // 39, past DuckDB's 38 cap. 18s bound the exact range at ~1e36, far
    // above any real corpus; the decimal→double cast parity is the
    // source_centroid_sim discipline.
    "token_burstiness" -> Q(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val dc = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
        val st = dc.groupBy("tok").agg(
          sum(col("c")).as("n_total"),
          sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("df"))
        val nd = docs.agg(count(lit(1)).as("d"))
        st.orderBy(col("n_total").desc, col("tok")).limit(100)
          .crossJoin(broadcast(nd))
          .select(col("tok"), col("n_total"), col("df"),
            ((col("d").cast("decimal(18,0)") * col("s2").cast("decimal(18,0)")
              - col("n_total").cast("decimal(18,0)") * col("n_total").cast("decimal(18,0)"))
              .cast("double")
              / (col("d").cast("decimal(18,0)") * col("n_total").cast("decimal(18,0)"))
                .cast("double")).as("fano"))
          .orderBy(col("n_total").desc, col("tok"))
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
          |dc AS (SELECT tok, doc_id, COUNT(*) AS c FROM t GROUP BY tok, doc_id),
          |st AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS n_total,
          |              CAST(SUM(c * c) AS BIGINT) AS s2,
          |              COUNT(*) AS df
          |       FROM dc GROUP BY tok
          |       ORDER BY n_total DESC, tok LIMIT 100),
          |d AS (SELECT COUNT(*) AS d FROM documents)
          |SELECT tok, n_total, df,
          |       CAST(CAST(d AS DECIMAL(18,0)) * CAST(s2 AS DECIMAL(18,0))
          |              - CAST(n_total AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0)) AS DOUBLE)
          |         / CAST(CAST(d AS DECIMAL(18,0)) * CAST(n_total AS DECIMAL(18,0)) AS DOUBLE) AS fano
          |FROM st, d ORDER BY n_total DESC, tok""".stripMargin)),

    // ---- corpus distribution by lang × source ----------------------------
    "lang_source_dist" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
          .orderBy("lang", "source")
      },
      oracle = Some(
        """SELECT lang, source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS total_chars
          |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ---- heuristic quality score (length/stopword mix, deterministic) ----
    "quality_score" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("n_stop",
            expr(s"size(filter(toks, t -> t IN (${sqList(stopwords)})))"))
          .select(
            col("doc_id"),
            Q.grid6(
              lit(0.4) * least(lit(1.0), col("n_tokens").cast("double") / 50.0) +
                lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) +
                lit(0.3) * least(lit(1.0), length(col("text")).cast("double") / 200.0))
              .as("quality"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH t AS (
           |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars2,
           |         len(list_filter(string_split(text, ' '), t -> t IN (${sqList(stopwords)}))) AS n_stop
           |  FROM documents)
           |SELECT doc_id,
           |       floor((0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 50.0)
           |           + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
           |           + 0.3 * least(1.0, CAST(n_chars2 AS DOUBLE) / 200.0))
           |           * 1000000.0) / 1000000.0 AS quality
           |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- document fingerprint: min-md5 over 5-token shingles (winnowing) -
    "doc_fingerprint" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 5)
          .select(
            col("doc_id"),
            // one codegen'd loop per doc (see MinWindowMd5) — replaces the
            // two interpreted HOF lambda layers per window
            graft.functions.WindowMd5Functions.minWindowMd5(col("toks"), 5)
              .as("fingerprint"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
          |SELECT doc_id,
          |       list_min(list_transform(range(len(toks) - 4), i -> md5(array_to_string(toks[i + 1 : i + 5], ' ')))) AS fingerprint
          |FROM t WHERE len(toks) >= 5 ORDER BY doc_id""".stripMargin)),

    // ---- BM25 retrieval scoring (added r6) -------------------------------
    // The classic retrieval primitive over the corpus: BM25 (Robertson
    // idf, k1 = 1.2, b = 0.75) for three fixed multi-term queries, top-20
    // docs each. Float parity: idf = ln((N − df + 0.5)/(df + 0.5)) uses
    // only the probed-identical ln and correctly-rounded +−/ on exact
    // ints; the tf norm is the IDENTICAL parenthesization on both engines
    // (every intermediate is one correctly-rounded IEEE op); per-term
    // scores round to the 6 dp decimal grid so the per-(query, doc) sum
    // is exact and order-independent. Scale shape: one (doc, term) agg;
    // df and dl fall out of it; the query-term table is a literal
    // broadcast; ranking is a per-query window over scored docs.
    "bm25_topk" -> Q(
      fn = (s, dir) => {
        import s.implicits._
        val queryTerms = Seq(
          (1, "hash"), (1, "join"), (1, "merge"),
          (2, "window"), (2, "sort"), (2, "order"),
          (3, "stream"), (3, "batch"), (3, "spark"))
        val qterms = queryTerms.toDF("qid", "term")
        // r16 batch 3 (guide §2.3 "aggregate before you shuffle"): the old
        // (doc, term) agg fed dl (→ stats + the doc-length join) and tfq
        // (→ dfq + the scoring rows), re-running the corpus token explode
        // per branch (ReuseCheck: 7 executed scans, 2 reused). Every input
        // the scorer needs is a per-doc quantity over a FIXED 9-term query
        // set, so ONE corpus explode + ONE doc_id-keyed aggregate computes
        // the doc length and the 9 conditional term counts together; the
        // (doc, term, tf) rows come back via stack + tf > 0 (≡ the old
        // groupBy existence), df/stats re-aggregate the checkpoint, and the
        // corpus-sized dl join disappears outright (dl rides the row).
        val qlist = queryTerms.map(_._2).distinct
        val per = Q.truncate(Tables.load(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("dl"),
            qlist.map(t =>
              sum(when(col("term") === t, 1L).otherwise(0L)).as(s"c_$t")): _*))
        val stats = per.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
        val tfq = per.select(col("doc_id"), col("dl"), expr(
            s"stack(${qlist.size}, ${qlist.map(t => s"'$t', c_$t").mkString(", ")})"
              + " AS (term, tf)"))
          .filter(col("tf") > 0)
        val dfq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
        val terms = tfq
          .join(broadcast(dfq), Seq("term"))
          .crossJoin(broadcast(stats))
          .join(broadcast(qterms), Seq("term"))
          .withColumn("avgdl", col("n_toks").cast("double") / col("n_docs"))
          // idf = ln((N - df + ½)/(df + ½)) = ln6(2N - 2df + 1, 2df + 1) on
          // LnGrid's integer grid — the ×2 lift makes both ln operands
          // exact int64 (r8: libm ln was engine-build-dependent)
          .transform(d => LnGrid.withLn6(d,
            col("n_docs") * 2L - col("df") * 2L + 1L, col("df") * 2L + 1L, "idf6"))
          .withColumn("norm",
            (col("tf") * lit(2.2)) /
              (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
          // idf6 (exact int) × norm (bit-identical double) is ONE
          // correctly-rounded multiply; floor pins it to the 1e-6 int grid
          .select(col("qid"), col("doc_id"),
            floor(col("idf6").cast("double") * col("norm")).as("t6"))
        val scored = terms.groupBy("qid", "doc_id")
          .agg((sum(col("t6")).cast("double") / lit(1000000.0d)).as("score"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
        scored.withColumn("rank", row_number().over(w).cast("int"))
          .filter(col("rank") <= 20)
          .select("qid", "rank", "doc_id", "score")
          .orderBy("qid", "rank")
      },
      oracle = Some(
        """WITH q(qid, term) AS (VALUES
          |  (1, 'hash'), (1, 'join'), (1, 'merge'),
          |  (2, 'window'), (2, 'sort'), (2, 'order'),
          |  (3, 'stream'), (3, 'batch'), (3, 'spark')),
          |t AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents),
          |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
          |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
          |stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS n_toks FROM dl),
          |dfq AS (SELECT term, COUNT(*) AS df FROM tf
          |        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term),
          |tj AS (
          |  SELECT q.qid, tf.doc_id, tf.tf, dfq.df, dl.dl, stats.n_docs, stats.n_toks,
          |         CAST(n_docs AS BIGINT) * 2 - CAST(df AS BIGINT) * 2 + 1 AS idf_a,
          |         CAST(df AS BIGINT) * 2 + 1 AS idf_b
          |  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
          |       CROSS JOIN stats JOIN q USING (term)),
""".stripMargin + LnGrid.sqlCtes("tj", "idf_a", "idf_b", "idf6", "bm_") + ",\n" + """          |terms AS (
          |  SELECT qid, doc_id,
          |         floor(CAST(idf6 AS DOUBLE)
          |           * ((tf * CAST(2.2 AS DOUBLE)) /
          |              (tf + CAST(1.2 AS DOUBLE) *
          |                (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
          |                  * (dl / (CAST(n_toks AS DOUBLE) / n_docs)))))) AS t6
          |  FROM bm_out),
          |scored AS (SELECT qid, doc_id, CAST(SUM(t6) AS DOUBLE) / 1000000.0 AS score
          |           FROM terms GROUP BY qid, doc_id),
          |ranked AS (SELECT qid, doc_id, score,
          |                  ROW_NUMBER() OVER (PARTITION BY qid
          |                                     ORDER BY score DESC, doc_id) AS rank
          |           FROM scored)
          |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id, score
          |FROM ranked WHERE rank <= 20 ORDER BY qid, rank""".stripMargin)),

    // ---- winnowing fingerprint SETS (added r6) ---------------------------
    // MOSS winnowing (Schleimer, Wilkerson & Aiken 2003): per doc, hash
    // every 5-token shingle, slide a window of 4 consecutive hashes, keep
    // each window's MINIMUM, dedup. Guarantees: any shared run of ≥ 8
    // tokens between two docs yields at least one shared fingerprint —
    // the ROBUST local-dedup primitive (doc_fingerprint's single global
    // min is the degenerate w = ∞ case). Map-only per doc via the
    // codegen'd WinnowFingerprints expression — the declarative two-layer
    // HOF form (transform over windows of array_min(slice(hs, …))) goes
    // QUADRATIC after Catalyst collapses the hs projection into every
    // window's slice (each window re-evaluates the whole n-digest
    // transform: measured 173 s at sf0.1 vs sub-second for the one-loop
    // expression, the doc_fingerprint/MinWindowMd5 lesson replayed one
    // structure up). The exploded (doc, fp) table is the copy-detection
    // index a downstream equi-join consumes (same shape as the LSH band
    // tables — never all-pairs).
    "winnowing_fingerprints" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 8) // k=5 shingles, window w=4
          .select(col("doc_id"),
            explode(graft.functions.WindowMd5Functions.winnowFingerprints(
              col("toks"), 5, 4)).as("fp"))
          .orderBy("doc_id", "fp")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |h AS (SELECT doc_id,
          |             list_transform(range(len(toks) - 4),
          |               i -> md5(array_to_string(toks[i + 1 : i + 5], ' '))) AS hs
          |      FROM t WHERE len(toks) >= 8),
          |f AS (SELECT doc_id,
          |             UNNEST(list_distinct(list_transform(range(len(hs) - 3),
          |               j -> list_min(hs[j + 1 : j + 4])))) AS fp
          |      FROM h)
          |SELECT doc_id, fp FROM f ORDER BY doc_id, fp""".stripMargin)),

    // ---- winnowing copy-detection pairs (r7) -----------------------------
    // The CONSUMER of the winnowing index — MOSS's actual output: document
    // pairs sharing ≥ 2 winnowed fingerprints, with the shared count as
    // the match strength. Two shared fingerprints ⇒ (with w = 4, k = 5)
    // two separate ≥ 8-token verbatim runs in common — the local-copy
    // signal Jaccard-style whole-doc dedup is blind to. Fingerprints with
    // document frequency > 8 are boilerplate and EXCLUDED by definition on
    // both engines (the standard MOSS "ignore ubiquitous code" rule — and
    // the same d² hot-key bound as the n-gram df cap, here as semantics
    // rather than candidate pruning, so the oracle applies it too).
    //
    // Scale shape: the join fan-out is bounded by df ≤ 8 per fingerprint
    // key (≤ 28 pairs each), never quadratic in corpus size; the pair agg
    // collapses map-side.
    // ---- cross-source near-dup provenance matrix (added r7) --------------
    // "Who copies whom": verified near-dup PAIRS bucketed by unordered
    // source pair — the provenance complement of source_overlap (which
    // measures shared shingle MASS; this counts actual verified duplicate
    // relationships, so a handful of verbatim mirrors stand out even when
    // aggregate shingle overlap is noise-level). Pairs come from the SAME
    // gated dedup_minhash_lsh pipeline, so the matrix can never disagree
    // with what the dedupper would actually delete.
    //
    // Scale shape: the shared banded candidate pipeline + two doc_id-keyed
    // source joins; the matrix agg collapses to ≤ |sources|² rows map-side.
    "source_dup_matrix" -> Q(
      fn = (s, dir) => {
        val (pairs, shCache) = minhashPairsWithHandle(s, dir)
        shCache // query-scoped cache (see Q's cache-lifecycle contract)
        dupMatrixFrom(pairs, Tables.load(s, dir, "documents"))
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id
           |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) >= 0.5)
           |SELECT least(da.source, db.source) AS source_x,
           |       greatest(da.source, db.source) AS source_y,
           |       CAST(COUNT(*) AS BIGINT) AS n_pairs
           |FROM pairs JOIN documents da ON da.doc_id = a_id
           |           JOIN documents db ON db.doc_id = b_id
           |GROUP BY 1, 2 ORDER BY source_x, source_y""".stripMargin
      }),

    // ---- shared-prefix boilerplate clusters (added r8) -------------------
    // Template/boilerplate detection at the document HEAD — the Common
    // Crawl pattern where scraped pages share a navigation/header prefix
    // and then diverge, which whole-document exact dedup (different tails)
    // and shingle near-dup (prefix mass diluted over a long doc) both
    // under-report. Cluster key = md5 of the first K tokens; emit clusters
    // with ≥ 2 docs: size, representative (min doc_id), and how many
    // SOURCES share the prefix (a cross-source prefix = a scraper
    // template, not an author quirk). K = 2 here — tuned to this corpus's
    // ~100-word vocabulary so collisions exist at every gate SF; a real
    // crawl runs K = 8..16 (the knob is a literal). All counts exact;
    // deterministic top-50 by (size DESC, key).
    //
    // Scale shape: map-only prefix-hash projection → one keyed agg
    // (shuffles carry 32-char keys, never text) → TakeOrderedAndProject.
    "boilerplate_prefixes" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), col("source"),
            md5(concat_ws(" ", slice(col("toks"), 1, 2))).as("pk"))
          .groupBy("pk")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"),
            countDistinct(col("source")).as("n_sources"))
          .filter(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("pk"))
          .limit(50)
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
          |           FROM documents),
          |p AS (SELECT doc_id, source, md5(array_to_string(toks[1:2], ' ')) AS pk
          |      FROM t WHERE len(toks) >= 2),
          |c AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |             MIN(doc_id) AS rep_doc,
          |             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
          |      FROM p GROUP BY pk)
          |SELECT pk, n_docs, rep_doc, n_sources
          |FROM c WHERE n_docs >= 2
          |ORDER BY n_docs DESC, pk LIMIT 50""".stripMargin)),

    // ---- count-min sketch estimate audit (added r8) ----------------------
    // The OTHER workhorse frequency sketch, audited the minhash_est_error
    // way: a d = 4 × w = 256 count-min sketch over the corpus token stream,
    // its point estimates (min over the 4 row counters) compared to exact
    // counts for the deterministic top-20 tokens. CMS never undercounts —
    // the spec pins est ≥ exact — and the overcount column IS the measured
    // collision mass, the number that justifies (or indicts) a 1 KB-per-
    // executor frequency sketch at 100 TB where the exact vocab agg costs
    // a full shuffle. PORTABLE hashing: row j's bucket is built from the
    // first two hex chars of md5('cmsj:' ‖ token) via
    // (instr('0123456789abcdef', c₁) − 1)·16 + instr(…, c₂) − 1 — md5 and
    // instr are bit-identical on both engines, so sketch and estimates
    // reproduce exactly (no engine-native hash reaches the output). All
    // arithmetic exact int64.
    //
    // Scale shape: ONE vocab agg (the sketch is populated from counts —
    // algebraically identical to per-token increments) → a ≤4·256-row
    // sketch agg + a TakeOrderedAndProject(20) top-k; the estimate join is
    // (20×4 rows) against the broadcast sketch. Nothing corpus-sized past
    // the vocab agg; at 100 TB the sketch side is map-combinable by
    // construction (sum is associative).
    "cms_estimate" -> Q(
      fn = (s, dir) => {
        val exact = Tables.load(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
        val wb = exact.select(col("t"), col("c"),
            explode(array((0 until 4).map { j =>
              struct(lit(j).as("j"), expr(
                s"(instr('0123456789abcdef', substring(md5(concat('cms$j:', t)), 1, 1)) - 1) * 16" +
                  s" + instr('0123456789abcdef', substring(md5(concat('cms$j:', t)), 2, 1)) - 1")
                .cast("long").as("b"))
            }: _*)).as("h"))
          .select(col("t"), col("c"), col("h.j").as("j"), col("h.b").as("b"))
        val sketch = wb.groupBy("j", "b").agg(sum(col("c")).as("sc"))
        val top = exact.orderBy(col("c").desc, col("t")).limit(20)
        wb.join(broadcast(top.select(col("t"))), Seq("t"))
          .join(broadcast(sketch), Seq("j", "b"))
          .groupBy(col("t"), col("c"))
          .agg(min(col("sc")).as("cms_est"))
          .select(col("t"), col("c").as("c_exact"), col("cms_est"),
            (col("cms_est") - col("c")).as("overcount"))
          .orderBy(col("c_exact").desc, col("t"))
      },
      oracle = Some(
        """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
          |ex AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY t),
          |wb AS (SELECT t, c, j,
          |         CAST((instr('0123456789abcdef',
          |                     substring(md5(concat('cms' || CAST(j AS VARCHAR) || ':', t)), 1, 1)) - 1) * 16
          |              + instr('0123456789abcdef',
          |                      substring(md5(concat('cms' || CAST(j AS VARCHAR) || ':', t)), 2, 1)) - 1
          |              AS BIGINT) AS b
          |       FROM ex CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)),
          |sketch AS (SELECT j, b, CAST(SUM(c) AS BIGINT) AS sc FROM wb GROUP BY j, b),
          |top AS (SELECT t FROM ex ORDER BY c DESC, t LIMIT 20),
          |est AS (SELECT w.t, w.c, MIN(s.sc) AS cms_est
          |        FROM wb w
          |        JOIN top ON top.t = w.t
          |        JOIN sketch s ON w.j = s.j AND w.b = s.b
          |        GROUP BY w.t, w.c)
          |SELECT t, c AS c_exact, cms_est, cms_est - c AS overcount
          |FROM est ORDER BY c_exact DESC, t""".stripMargin)),

    // ---- MinHash estimator error audit (added r7) ------------------------
    // How good is the engine's own sketch? For every LSH band-collision
    // candidate pair: the signature-agreement Jaccard ESTIMATE (matching
    // slices / 8) next to the exact shingle Jaccard, plus a large-error
    // flag |est − true| > ¼ decided by exact integer cross-multiplication
    // (|m·u − 8i|·4 > 8u — no float in the verdict). The companion to
    // lsh_recall_curve: that measures banding RECALL, this measures the
    // estimator's RESOLUTION on the pairs banding actually surfaces —
    // together they justify the signature width (8×16-bit) the dedup
    // family runs on. est is m/8 (exact — power-of-two divisor), true is
    // one bare division.
    //
    // Scale shape: the shared banded candidate pipeline (never all-pairs);
    // the four joins back are doc_id-keyed; per-pair work is O(shingles).
    "minhash_est_error" -> Q(
      fn = (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "shingles")
          .cache() // query-scoped (see Q's cache-lifecycle contract)
        // r16 batch 3: withSig feeds FOUR branches (both band self-join
        // sides + the two signature-carrier joins), each recomputing the
        // 8-hash minhash signature above the shingle cache (ReuseCheck: 12
        // executed scans, 0 reused — the join sides broadcast, so there is
        // no exchange to reuse). Materialize the doc-sized signature frame
        // once; every consumer reads the checkpoint.
        val withSig = Q.truncate(sh.select(col("doc_id"),
            graft.functions.MinhashFunctions.minhashSignature(col("shingles")).as("sigs"))
          .filter(col("sigs").isNotNull))
        val bands = withSig.select(col("doc_id"), explode(bandKeysCol).as("bk"))
        val cand = bands.as("x").join(bands.as("y"), Seq("bk"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
        val matches = (0 until NumHashes).map(k =>
          when(col("sa").getItem(k) === col("sb").getItem(k), 1L).otherwise(0L))
          .reduce(_ + _)
        cand
          .join(withSig.select(col("doc_id").as("a_id"), col("sigs").as("sa")), Seq("a_id"))
          .join(withSig.select(col("doc_id").as("b_id"), col("sigs").as("sb")), Seq("b_id"))
          .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("qa")), Seq("a_id"))
          .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("qb")), Seq("b_id"))
          .withColumn("m", matches)
          .withColumn("i", size(array_intersect(col("qa"), col("qb"))).cast("long"))
          .withColumn("u", size(array_distinct(concat(col("qa"), col("qb")))).cast("long"))
          .select(col("a_id"), col("b_id"), col("m").as("n_matches"),
            (col("m").cast("double") / lit(8.0d)).as("est_jacc"),
            (col("i").cast("double") / col("u").cast("double")).as("true_jacc"),
            (abs(col("m") * col("u") - col("i") * 8) * 4 > col("u") * 8).as("large_err"))
          .orderBy("a_id", "b_id")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        val mSum = (0 until NumHashes).map(k =>
          s"(CASE WHEN a.sig$k = b.sig$k THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |),
           |j AS (
           |  SELECT a_id, b_id, $mSum AS m,
           |         len(list_intersect(a.shingles, b.shingles)) AS i,
           |         len(list_distinct(a.shingles || b.shingles)) AS u
           |  FROM cand JOIN sig a ON a.doc_id = a_id JOIN sig b ON b.doc_id = b_id
           |)
           |SELECT a_id, b_id, CAST(m AS BIGINT) AS n_matches,
           |       CAST(m AS DOUBLE) / CAST(8 AS DOUBLE) AS est_jacc,
           |       CAST(i AS DOUBLE) / CAST(u AS DOUBLE) AS true_jacc,
           |       abs(CAST(m AS BIGINT) * u - i * 8) * 4 > u * 8 AS large_err
           |FROM j ORDER BY a_id, b_id""".stripMargin
      }),

    // ---- entity-resolution blocking + edit-distance verify (added r7) ----
    // The classic two-phase ER/record-linkage shape the dedup family was
    // missing: a cheap BLOCKING key (the 24-char text prefix) restricts
    // candidate generation to within-block pairs, then the expensive exact
    // comparator — Levenshtein distance on the 120-char prefixes, identical
    // unweighted edit-distance semantics in Spark and DuckDB — verifies
    // each candidate. Pairs at distance ≤ 24 surface with their distance
    // (an int — no float anywhere). Complements the set-similarity deduppers:
    // edit distance catches single-character churn (OCR noise, typo
    // variants) that shingle Jaccard under-scores.
    //
    // Scale shape: blocks with > 16 members are EXCLUDED via a broadcast
    // hot-list anti-join (the NgramDfCap discipline — a boilerplate prefix
    // can never go quadratic; the cap is part of the operator's semantics,
    // so the oracle applies it too). Within-block fan-out is ≤ 16² rows
    // per key; the comparator cost is bounded by the 120-char prefix cap.
    "er_blocking_pairs" -> Q(
      fn = (s, dir) => erPairs(s, dir).orderBy("a_id", "b_id"),
      oracle = Some(
        s"""WITH $erPairsSqlCtes
           |SELECT a_id, b_id, lev FROM erp ORDER BY a_id, b_id""".stripMargin)),

    // ---- character-bigram entropy per source (added r8) ------------------
    // The compressibility floor at CHARACTER grain — the Gopher/C4-family
    // template-junk signal token_entropy can't see: a source whose docs are
    // lexically varied but character-templated (IDs, markup, repeated
    // punctuation scaffolds) shows low char-bigram entropy while its token
    // entropy stays high. H = −Σ p·ln p over character bigrams, folded to
    // the LnGrid form Σ c·ln6(tot, c) / (tot·10⁶) — exact int64 weighted
    // sum, ONE bare division per source.
    //
    // Scale shape: per-doc bigram explode is map-side (positions generated
    // per row, no join); one (source, bigram) agg — cardinality ≤
    // charset² per source — then a ≤|sources| roll-up.
    "char_ngram_entropy" -> Q(
      fn = (s, dir) => {
        val bg = Tables.load(s, dir, "documents")
          .select(col("source"), explode(expr(
            "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
            .as("bg"))
          .groupBy("source", "bg").agg(count(lit(1)).as("c"))
        val tot = bg.groupBy("source").agg(sum(col("c")).as("tot"),
          count(lit(1)).as("n_distinct"))
        val j = bg.join(broadcast(tot), Seq("source"))
        LnGrid.withLn6(j, col("tot"), col("c"), "l6", "__ce_")
          .groupBy(col("source"), col("tot"), col("n_distinct"))
          .agg(sum(col("c") * col("l6")).as("hsum"))
          .select(col("source"), col("tot").as("n_bigrams"), col("n_distinct"),
            (col("hsum").cast("double")
              / (col("tot") * lit(1000000L)).cast("double")).as("h_nats"))
          .orderBy("source")
      },
      oracle = Some(
        s"""WITH b0 AS (SELECT source,
           |                   unnest(list_transform(range(1, length(text)),
           |                          i -> substring(text, i, 2))) AS bg
           |            FROM documents),
           |bg AS (SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c
           |       FROM b0 GROUP BY source, bg),
           |tt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot,
           |              CAST(COUNT(*) AS BIGINT) AS n_distinct
           |       FROM bg GROUP BY source),
           |j AS (SELECT bg.source, bg.bg, bg.c, tt.tot, tt.n_distinct
           |      FROM bg JOIN tt USING (source)),
           |${LnGrid.sqlCtes("j", "tot", "c", "l6", "ce_")},
           |a AS (SELECT source, tot, n_distinct,
           |             CAST(SUM(c * l6) AS BIGINT) AS hsum
           |      FROM ce_out GROUP BY source, tot, n_distinct)
           |SELECT source, tot AS n_bigrams, n_distinct,
           |       CAST(hsum AS DOUBLE) / CAST(tot * 1000000 AS DOUBLE) AS h_nats
           |FROM a ORDER BY source""".stripMargin)),

    // ---- token-level entropy RATE per source (added r8) ------------------
    // The conditional completion of the entropy family: token_entropy is
    // the unigram H(X), char_ngram_entropy the char-grain floor; this is
    // H(next | cur) over TOKEN bigrams — the entropy RATE, the honest
    // per-token compressibility of the source as a first-order process. A
    // source with rich vocabulary but rigid phrasing (high H(X), low
    // H(next|cur)) is template prose; the gap H(X) − H(next|cur) is the
    // mutual information adjacent tokens share. Algebra folds to
    //   H = Σ_ab c_ab·ln6(c_a, c_ab) / (N·10⁶)
    // on LnGrid — exact int64 weighted sum, ONE bare division per source.
    //
    // Scale shape: one corpus bigram pass keyed (source, a, b) → a
    // (source, a) context join (vocab-sized, never corpus rows) →
    // ≤|sources| roll-up.
    "token_entropy_rate" -> Q(
      fn = (s, dir) => {
        val bg = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 2)
          .select(col("source"), explode(expr(
            """transform(sequence(0, size(toks) - 2),
              |  i -> struct(element_at(toks, i + 1) AS a, element_at(toks, i + 2) AS b))"""
              .stripMargin)).as("e"))
          .groupBy(col("source"), col("e.a").as("a"), col("e.b").as("b"))
          .agg(count(lit(1)).as("cab"))
        val ctx = bg.groupBy("source", "a").agg(sum(col("cab")).as("ca"))
        val tot = bg.groupBy("source").agg(sum(col("cab")).as("n"))
        val j = bg.join(ctx, Seq("source", "a")).join(broadcast(tot), Seq("source"))
        LnGrid.withLn6(j, col("ca"), col("cab"), "l6", "__er_")
          .groupBy(col("source"), col("n"))
          .agg(sum(col("cab") * col("l6")).as("hsum"))
          .select(col("source"), col("n").as("n_bigrams"),
            (col("hsum").cast("double")
              / (col("n") * lit(1000000L)).cast("double")).as("h_rate_nats"))
          .orderBy("source")
      },
      oracle = Some(
        s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
           |bg AS (SELECT source, toks[i] AS a, toks[i + 1] AS b,
           |              CAST(COUNT(*) AS BIGINT) AS cab
           |       FROM t, UNNEST(range(1, len(toks))) AS u(i)
           |       WHERE len(toks) >= 2 GROUP BY 1, 2, 3),
           |ctx AS (SELECT source, a, CAST(SUM(cab) AS BIGINT) AS ca
           |        FROM bg GROUP BY source, a),
           |tt AS (SELECT source, CAST(SUM(cab) AS BIGINT) AS n FROM bg GROUP BY source),
           |j AS (SELECT bg.source, bg.a, bg.b, bg.cab, ctx.ca, tt.n
           |      FROM bg JOIN ctx USING (source, a) JOIN tt USING (source)),
           |${LnGrid.sqlCtes("j", "ca", "cab", "l6", "er_")},
           |agg AS (SELECT source, n, CAST(SUM(cab * l6) AS BIGINT) AS hsum
           |        FROM er_out GROUP BY source, n)
           |SELECT source, n AS n_bigrams,
           |       CAST(hsum AS DOUBLE) / CAST(n * 1000000 AS DOUBLE) AS h_rate_nats
           |FROM agg ORDER BY source""".stripMargin)),

    // ---- per-band LSH effectiveness (added r8) ---------------------------
    // Index-engineering audit of the banding itself: per band (0..3), how
    // many candidate pairs it surfaces and what fraction verify at the
    // committed J ≥ 0.5 — a band whose precision sits far below its peers
    // is wasted join fan-out (too few rows per signature slice), and a
    // band surfacing almost no UNIQUE candidates is redundant; together
    // with lsh_recall_curve (recall side) this closes the banding
    // P/R loop. Verdicts by exact integer cross-multiplication 2·|∩| ≥
    // |∪|; precision ONE bare division per band.
    //
    // Scale shape: the shared signature pass with the band index carried
    // (posexplode) → per-band candidate joins (same keyed shape as the
    // dedup family, never all-pairs) → a 4-row agg.
    "band_effectiveness" -> Q(
      fn = (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "shingles")
          .cache()
        // r16 batch 3: both self-join sides recomputed the 8-hash minhash
        // signature above the shingle cache (broadcast join — no exchange
        // to reuse; ReuseCheck: 8 executed scans, 0 reused). Materialize
        // the doc-sized banded frame once; the join reads the checkpoint.
        val bands = Q.truncate(sh.select(col("doc_id"),
            graft.functions.MinhashFunctions.minhashSignature(col("shingles")).as("sigs"))
          .filter(col("sigs").isNotNull)
          .select(col("doc_id"), posexplode(bandKeysCol))
          .toDF("doc_id", "band", "bk"))
        val cand = bands.as("x").join(bands.as("y"), Seq("bk"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.band").as("band"), col("x.doc_id").as("a_id"),
            col("y.doc_id").as("b_id"))
          .distinct()
        cand
          .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
          .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
          .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .withColumn("u", size(array_union(col("sa"), col("sb"))).cast("long"))
          .groupBy("band")
          .agg(count(lit(1)).as("n_cand"),
            sum(when(col("i") * 2 >= col("u"), 1L).otherwise(0L)).as("n_verified"))
          .select(col("band"), col("n_cand"), col("n_verified"),
            (col("n_verified").cast("double") / col("n_cand").cast("double"))
              .as("precision"))
          .orderBy("band")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, $b AS band, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.band, x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |),
           |v AS (SELECT band,
           |             CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS i,
           |             CAST(len(list_distinct(a.shingles || b.shingles)) AS BIGINT) AS u
           |      FROM cand JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id),
           |agg AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS n_cand,
           |               CAST(SUM(CASE WHEN i * 2 >= u THEN 1 ELSE 0 END) AS BIGINT) AS n_verified
           |        FROM v GROUP BY band)
           |SELECT CAST(band AS INTEGER) AS band, n_cand, n_verified,
           |       CAST(n_verified AS DOUBLE) / CAST(n_cand AS DOUBLE) AS precision
           |FROM agg ORDER BY band""".stripMargin
      }),

    // ---- Jaccard threshold curve over the banded candidates (r8) ---------
    // The dedup-aggressiveness dial: how many verified near-dup pairs
    // survive at J ≥ 0.3 … 0.8? The pipeline commits to ONE threshold
    // (0.5); this curve is what that decision is made FROM — a cliff
    // between 0.5 and 0.6 means the corpus has a distinct near-dup
    // population and the threshold sits correctly below it; a smooth
    // slope means the cut is arbitrary and retention is threshold-
    // sensitive. Candidates are the SAME banded minhash generation as
    // dedup_minhash_lsh (no-drift); every verdict is the exact integer
    // cross-multiplication 100·|∩| ≥ t·|∪| — no float Jaccard reaches a
    // count; share ONE bare division per row.
    //
    // Scale shape: the shared banded candidate pipeline (never all-pairs)
    // + one pass computing (i, u) per candidate → a 6-row conditional-sum
    // aggregate.
    "jaccard_threshold_curve" -> Q(
      fn = (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "shingles")
          .cache()
        // r16 batch 3: both self-join sides recomputed the 8-hash minhash
        // signature above the shingle cache (broadcast join — no exchange
        // to reuse; ReuseCheck: 8 executed scans, 0 reused). Materialize
        // the doc-sized banded frame once; the join reads the checkpoint.
        val bands = Q.truncate(sh.select(col("doc_id"),
            graft.functions.MinhashFunctions.minhashSignature(col("shingles")).as("sigs"))
          .filter(col("sigs").isNotNull)
          .select(col("doc_id"), explode(bandKeysCol).as("bk")))
        val cand = bands.as("x").join(bands.as("y"), Seq("bk"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
        val iu = cand
          .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sa")), Seq("a_id"))
          .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sb")), Seq("b_id"))
          .select(
            size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
            size(array_union(col("sa"), col("sb"))).cast("long").as("u"))
        iu.agg(count(lit(1)).as("n_cand"),
            (30 to 80 by 10).map(t =>
              sum(when(col("i") * 100 >= col("u") * t, 1L).otherwise(0L)).as(s"c$t")): _*)
          .select(explode(array((30 to 80 by 10).map(t =>
            struct(lit(t).as("threshold"), col("n_cand"), col(s"c$t").as("n_pairs"))): _*))
            .as("r"))
          .select(col("r.threshold"), col("r.n_cand"), col("r.n_pairs"),
            when(col("r.n_cand") === 0, lit(0.0))
              .otherwise(col("r.n_pairs").cast("double") / col("r.n_cand").cast("double"))
              .as("share"))
          .orderBy("threshold")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        val counts = (30 to 80 by 10).map(t =>
          s"CAST(SUM(CASE WHEN i * 100 >= u * $t THEN 1 ELSE 0 END) AS BIGINT) AS c$t")
          .mkString(",\n       ")
        val rows = (30 to 80 by 10).map(t =>
          s"SELECT $t AS threshold, n_cand, c$t AS n_pairs FROM a").mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |),
           |iu AS (SELECT CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT) AS i,
           |              CAST(len(list_distinct(a.shingles || b.shingles)) AS BIGINT) AS u
           |       FROM cand JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id),
           |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
           |       $counts
           |      FROM iu)
           |SELECT CAST(threshold AS INTEGER) AS threshold, n_cand, n_pairs,
           |       CASE WHEN n_cand = 0 THEN 0.0
           |            ELSE CAST(n_pairs AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS share
           |FROM ($rows) ORDER BY threshold""".stripMargin
      }),

    // ---- Fellegi–Sunter linkage weights over the ER candidates (r8) ------
    // The probabilistic record-linkage layer on top of the ER family: for
    // each comparison field γ (same lang / same source / length within 10),
    // estimate m = P(agree | matched) and u = P(agree | unmatched) over the
    // BLOCKED candidate pairs — matched = the banded-levenshtein verdict
    // er_blocking_pairs already trusts — and emit the Fellegi–Sunter
    // agreement/disagreement weights ln(m/u), ln((1−m)/(1−u)). These are
    // the log-likelihood increments a linkage scorer sums per field; a
    // field whose w_agree ≈ 0 carries no linkage signal and should leave
    // the compare set. ENGINE-VERSION-PROOF: m/u ratios never materialize —
    // each weight is LnGrid-Wide over the exact int64 cross-products
    // (agree_m·n_u vs agree_u·n_m; pair counts can reach ~1e5, so the
    // products need the wide chain's DECIMAL headroom); degenerate cells
    // (u = 0, m = 1) surface as NULL via the chain's positivity gate, not
    // as ±∞.
    //
    // Scale shape: the ER blocking join (block-bounded, ≤16² per key) with
    // the banded early-exit levenshtein; one 3-row field agg; everything
    // after is constant-size.
    "fs_linkage_weights" -> Q(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), substring(col("text"), 1, 24).as("blk"),
            col("lang"), col("source"), col("n_chars"))
        val hot = docs.groupBy("blk").agg(count(lit(1)).as("m"))
          .filter(col("m") > 16).select("blk")
        val cold = docs.join(broadcast(hot), Seq("blk"), "left_anti")
        val x = cold.select(col("blk"), col("doc_id").as("a_id"),
          substring(col("text"), 1, 120).as("ta"), col("lang").as("la"),
          col("source").as("sa"), col("n_chars").as("ca"))
        val y = cold.select(col("blk"), col("doc_id").as("b_id"),
          substring(col("text"), 1, 120).as("tb"), col("lang").as("lb"),
          col("source").as("sb"), col("n_chars").as("cb"))
        val pairs = x.join(y, Seq("blk")).filter(col("a_id") < col("b_id"))
          .withColumn("matched",
            (levenshtein(col("ta"), col("tb"), 24) >= 0).cast("long"))
        val fields = pairs.select(col("matched"), explode(array(
          struct(lit("lang").as("field"),
            (col("la") === col("lb")).cast("long").as("agree")),
          struct(lit("source").as("field"),
            (col("sa") === col("sb")).cast("long").as("agree")),
          struct(lit("len10").as("field"),
            (abs(col("ca") - col("cb")) <= 10).cast("long").as("agree")))).as("f"))
          .select(col("matched"), col("f.field").as("field"), col("f.agree").as("agree"))
        val agg = fields.groupBy("field").agg(
          sum(col("matched")).as("nm"),
          sum(lit(1L) - col("matched")).as("nu"),
          sum(col("matched") * col("agree")).as("am"),
          sum((lit(1L) - col("matched")) * col("agree")).as("au"))
        val w1 = LnGrid.withLn6Wide(agg, col("am") * col("nu"), col("au") * col("nm"),
          "w_agree6", "__fa_")
        val w2 = LnGrid.withLn6Wide(w1,
          (col("nm") - col("am")) * col("nu"), (col("nu") - col("au")) * col("nm"),
          "w_disagree6", "__fd_")
        w2.select(col("field"), col("nm").as("n_match"), col("nu").as("n_unmatch"),
            col("am").as("agree_m"), col("au").as("agree_u"),
            col("w_agree6"), col("w_disagree6"))
          .orderBy("field")
      },
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, text, substring(text, 1, 24) AS blk,
           |                  lang, source, n_chars FROM documents),
           |hot AS (SELECT blk FROM d GROUP BY blk HAVING COUNT(*) > 16),
           |cold AS (SELECT * FROM d WHERE blk NOT IN (SELECT blk FROM hot)),
           |p AS (SELECT CASE WHEN levenshtein(substring(x.text, 1, 120),
           |                                   substring(y.text, 1, 120)) <= 24
           |             THEN 1 ELSE 0 END AS matched,
           |             x.lang AS la, y.lang AS lb, x.source AS sa, y.source AS sb,
           |             x.n_chars AS ca, y.n_chars AS cb
           |      FROM cold x JOIN cold y ON x.blk = y.blk AND x.doc_id < y.doc_id),
           |f AS (SELECT matched, 'lang' AS field,
           |             CASE WHEN la = lb THEN 1 ELSE 0 END AS agree FROM p
           |      UNION ALL
           |      SELECT matched, 'source',
           |             CASE WHEN sa = sb THEN 1 ELSE 0 END FROM p
           |      UNION ALL
           |      SELECT matched, 'len10',
           |             CASE WHEN abs(ca - cb) <= 10 THEN 1 ELSE 0 END FROM p),
           |a AS (SELECT field, CAST(SUM(matched) AS BIGINT) AS nm,
           |             CAST(SUM(1 - matched) AS BIGINT) AS nu,
           |             CAST(SUM(matched * agree) AS BIGINT) AS am,
           |             CAST(SUM((1 - matched) * agree) AS BIGINT) AS au
           |      FROM f GROUP BY field),
           |${LnGrid.sqlCtesWide("a", "am * nu", "au * nm", "w_agree6", "fa_")},
           |${LnGrid.sqlCtesWide("fa_out", "(nm - am) * nu", "(nu - au) * nm", "w_disagree6", "fd_")}
           |SELECT field, nm AS n_match, nu AS n_unmatch, am AS agree_m, au AS agree_u,
           |       w_agree6, w_disagree6
           |FROM fd_out ORDER BY field""".stripMargin)),

    // ---- entity-resolution CLUSTERS: CC over the blocking-pair graph (r7) -
    // The grouping verb on top of er_blocking_pairs — the same pairs →
    // clusters step the minhash family has (dedup_minhash_lsh →
    // dedup_minhash_clusters): transitively-linked edit-distance variants
    // become one ENTITY (A~B, B~C ⇒ {A,B,C} even when A~C's distance
    // exceeds the 24 threshold — exactly the chain OCR drift produces).
    // Each member row carries its canonical id (min doc_id label from the
    // shared [[Q.connectedComponents]] loop) and the entity's member count,
    // so a survivorship pass can pick one record per entity. Oracle:
    // recursive-CTE transitive closure over the same verified pair set
    // (exponential on big components, fine at gate scale — which is exactly
    // why the Spark side doesn't use it). Scale shape: the pair pipeline is
    // block-bounded (≤16² per key); the CC loop is 1 join + 1 agg per round
    // with in-shuffle pointer jumping; the size join is label-keyed.
    "er_entity_clusters" -> Q(
      fn = (s, dir) => {
        val pairs = erPairs(s, dir).select(col("a_id"), col("b_id"))
        val labels = Q.connectedComponents(
          pairs.union(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id"))))
          .select(col("id").as("doc_id"), col("label").as("entity"))
        val sizes = labels.groupBy("entity").agg(count(lit(1)).as("n_members"))
        labels.join(sizes, Seq("entity"))
          .select(col("doc_id"), col("entity"), col("n_members"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH RECURSIVE $erPairsSqlCtes,
           |sym AS (SELECT a_id AS s, b_id AS d FROM erp
           |        UNION ALL SELECT b_id, a_id FROM erp),
           |reach(s, d) AS (
           |  SELECT s, d FROM sym
           |  UNION
           |  SELECT r.s, e2.d FROM reach r JOIN sym e2 ON r.d = e2.s WHERE r.s != e2.d
           |),
           |lab AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS entity
           |        FROM reach GROUP BY s),
           |sz AS (SELECT entity, COUNT(*) AS n_members FROM lab GROUP BY entity)
           |SELECT doc_id, entity, n_members
           |FROM lab JOIN sz USING (entity) ORDER BY doc_id""".stripMargin)),

    "winnow_copy_pairs" -> Q(
      fn = (s, dir) => {
        val fps = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"),
            explode(graft.functions.WindowMd5Functions.winnowFingerprints(
              col("toks"), 5, 4)).as("fp"))
        val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 8).select("fp")
        val kept = fps.join(rare, Seq("fp"))
        kept.select(col("fp"), col("doc_id").as("a_id"))
          .join(kept.select(col("fp"), col("doc_id").as("b_id")), Seq("fp"))
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("a_id", "b_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
          |h AS (SELECT doc_id,
          |             list_transform(range(len(toks) - 4),
          |               i -> md5(array_to_string(toks[i + 1 : i + 5], ' '))) AS hs
          |      FROM t WHERE len(toks) >= 8),
          |f AS (SELECT doc_id,
          |             UNNEST(list_distinct(list_transform(range(len(hs) - 3),
          |               j -> list_min(hs[j + 1 : j + 4])))) AS fp
          |      FROM h),
          |rare AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= 8),
          |k AS (SELECT f.doc_id, f.fp FROM f JOIN rare USING (fp))
          |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
          |FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 2
          |ORDER BY a_id, b_id""".stripMargin)),

    // ---- multimodal exact dedup accounting (added r6) --------------------
    // Exact dedup over the opaque BINARY payload (md5 of the bytes — the
    // modality-agnostic twin of dedup_exact's normalized-text hash): per
    // source, how many blobs, how many are redundant copies of a
    // globally-seen payload (keeper = min doc_id), and how many bytes
    // deduplicating would reclaim. Scale shape: one hash agg on the digest
    // + a co-partitioned join back on it (both shuffles carry the 16-byte
    // hash, never the payload), then a tiny per-source roll-up.
    "multimodal_dedup" -> Q(
      fn = (s, dir) => {
        val b = Tables.load(s, dir, "documents")
          .withColumn("blob", encode(col("text"), "UTF-8"))
          .select(col("source"), col("doc_id"),
            md5(col("blob")).as("h"), octet_length(col("blob")).as("nb"))
        val keep = b.groupBy("h").agg(min(col("doc_id")).as("keeper"))
        b.join(keep, Seq("h"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_blobs"),
            sum(when(col("doc_id") =!= col("keeper"), 1).otherwise(0)).as("n_dups"),
            sum(when(col("doc_id") =!= col("keeper"), col("nb")).otherwise(0))
              .cast("bigint").as("bytes_reclaimable"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH b AS (SELECT source, doc_id, md5(text) AS h,
          |                  octet_length(encode(text)) AS nb
          |           FROM documents),
          |k AS (SELECT h, MIN(doc_id) AS keeper FROM b GROUP BY h)
          |SELECT source, COUNT(*) AS n_blobs,
          |       CAST(SUM(CASE WHEN doc_id != keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
          |       CAST(SUM(CASE WHEN doc_id != keeper THEN nb ELSE 0 END) AS BIGINT) AS bytes_reclaimable
          |FROM b JOIN k USING (h)
          |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- SimHash 32-bit fingerprint --------------------------------------
    "simhash_fingerprint" -> Q(
      fn = (s, dir) => simhashDF(s, dir).select("doc_id", "simhash").orderBy("doc_id"),
      oracle = Some(
        s"""$simhashSqlCte
           |SELECT doc_id, simhash FROM fp ORDER BY doc_id""".stripMargin)),

    // ---- SimHash near-dup pairs via banded hamming search ---------------
    // 4 bands of 8 bits: a pair at hamming distance ≤ 3 differs in at most
    // 3 bands, so it shares ≥ 1 exact band — the band equi-join is LOSSLESS
    // for the d ≤ 3 threshold (no all-pairs scan).
    "simhash_pairs" -> Q(
      fn = (s, dir) => {
        val fp = simhashDF(s, dir).cache()
        // band keys and hamming both run on the packed ints simhashDF
        // already computed — no substring band values, no conv re-parse of
        // the bitstring on the (much larger) candidate-pair side
        val bands = fp.select(col("doc_id"),
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"), col(s"b$b").as("bv"))): _*)).as("bs"))
          .select(col("doc_id"), col("bs.band").as("band"), col("bs.bv").as("bv"))
        val cand = bands.as("x").join(bands.as("y"), Seq("band", "bv"))
          .filter(col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
          .distinct()
        // hamming = Σ popcount(xor) over the four 8-bit band ints — pure
        // codegen'd integer ops per candidate pair
        val hamming = (0 until 4)
          .map(c => expr(s"bit_count(fa$c ^ fb$c)")).reduce(_ + _).cast("int")
        cand
          .join(fp.select(col("doc_id").as("a_id") +:
            (0 until 4).map(c => col(s"b$c").as(s"fa$c")): _*), Seq("a_id"))
          .join(fp.select(col("doc_id").as("b_id") +:
            (0 until 4).map(c => col(s"b$c").as(s"fb$c")): _*), Seq("b_id"))
          .withColumn("hamming", hamming)
          .filter(col("hamming") <= 3)
          .select("a_id", "b_id", "hamming")
          .orderBy("a_id", "b_id")
      },
      oracle = Some {
        val hammingSql = (1 to 32).map(i =>
          s"CASE WHEN substring(a.simhash, $i, 1) != substring(b.simhash, $i, 1) THEN 1 ELSE 0 END")
          .mkString(" + ")
        val bandSelects = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS band, substring(simhash, ${8 * b + 1}, 8) AS bv FROM fp")
          .mkString("\n  UNION ALL\n  ")
        s"""$simhashSqlCte,
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
           |)
           |SELECT a_id, b_id, CAST($hammingSql AS INTEGER) AS hamming
           |FROM cand JOIN fp a ON a.doc_id = a_id JOIN fp b ON b.doc_id = b_id
           |WHERE $hammingSql <= 3
           |ORDER BY a_id, b_id""".stripMargin
      }),

    // ---- MinHash + LSH near-duplicate pairs ------------------------------
    // 8 md5-seeded min-hashes over distinct 3-token shingles; 4 bands of 2;
    // candidate pairs share ≥1 band key; verified with exact Jaccard ≥ 0.5.
    "dedup_minhash_lsh" -> Q(
      fn = (s, dir) => {
        val (pairs, shCache) = minhashPairsWithHandle(s, dir)
        shCache // query-scoped cache (see Q's cache-lifecycle contract)
        pairs.orderBy("a_id", "b_id")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |)
           |SELECT a_id, b_id,
           |       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) AS jacc
           |FROM cand JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id
           |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) >= 0.5
           |ORDER BY a_id, b_id""".stripMargin
      },
      headline = true),

    // ---- text near-dup CLUSTERS: CC over the MinHash pair graph (r6) -----
    // The text-side twin of dedup_clusters (embeddings): group mutually
    // near-duplicate DOCUMENTS so one survivor per cluster can be kept
    // (A~B, B~C ⇒ {A,B,C} even when A~C's band collision was missed).
    // Pair generation is the shared [[minhashPairsWithHandle]] pipeline;
    // the min-label propagation loop is the shared [[Q.connectedComponents]]
    // (1 join + 1 agg per round, pointer jumping in-shuffle, reliable
    // checkpoint on clusters). Oracle: recursive-CTE transitive closure
    // over the same verified pair set — exponential on big components,
    // fine at gate scale, which is exactly why the Spark side doesn't use
    // it.
    // ---- near-dup leakage across the train/val/test split (added r8) -----
    // The eval-contamination audit exact dedup CANNOT do: a hash split
    // assigns near-identical documents to DIFFERENT splits (their md5s are
    // unrelated), so a val/test doc can have a near-verbatim twin in
    // train — exactly the leakage that inflates eval scores (the
    // Lee et al. 2022 / GPT-3 appendix-C failure mode). This composes the
    // two gated builders: verified MinHash near-dup pairs
    // ([[minhashPairsWithHandle]]) × train_split's hash-band rule, and
    // counts pairs per (split, split) cell — off-diagonal mass IS the
    // leak; the (train, val) and (train, test) cells are the rows a
    // release review blocks on. All-integer output. Scale shape: the
    // shared banded pair pipeline + two doc_id-keyed band joins + a ≤9-row
    // agg; nothing new shuffles at corpus scale.
    "split_leakage" -> Q(
      fn = (s, dir) => {
        val (pairsDf, shCache) = minhashPairsWithHandle(s, dir)
        shCache // query-scoped cache (see Q's cache-lifecycle contract)
        val split = Tables.load(s, dir, "documents")
          .withColumn("h2",
            substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
          .select(col("doc_id"),
            when(col("h2") < "cc", "train")
              .when(col("h2") < "e6", "val").otherwise("test").as("split"))
        pairsDf
          .join(split.select(col("doc_id").as("a_id"), col("split").as("sa")), Seq("a_id"))
          .join(split.select(col("doc_id").as("b_id"), col("split").as("sb")), Seq("b_id"))
          .groupBy(least(col("sa"), col("sb")).as("split_x"),
            greatest(col("sa"), col("sb")).as("split_y"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("is_leak",
            when(col("split_x") =!= col("split_y"), 1L).otherwise(0L))
          .orderBy("split_x", "split_y")
      },
      oracle = Some(
        s"""WITH $minhashPairsSqlCtes,
           |sp AS (SELECT doc_id,
           |         CASE WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 2) < 'cc'
           |                THEN 'train'
           |              WHEN substr(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 2) < 'e6'
           |                THEN 'val'
           |              ELSE 'test' END AS split
           |       FROM documents)
           |SELECT least(pa.split, pb.split) AS split_x,
           |       greatest(pa.split, pb.split) AS split_y,
           |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |       CAST(CASE WHEN least(pa.split, pb.split) != greatest(pa.split, pb.split)
           |                 THEN 1 ELSE 0 END AS BIGINT) AS is_leak
           |FROM pairs JOIN sp pa ON pa.doc_id = a_id
           |           JOIN sp pb ON pb.doc_id = b_id
           |GROUP BY 1, 2 ORDER BY split_x, split_y""".stripMargin)),

    "dedup_minhash_clusters" -> Q(
      fn = (s, dir) => {
        val (pairsDf, shCache) = minhashPairsWithHandle(s, dir)
        val labels = clusterLabels(pairsDf)
        shCache.unpersist() // pairs are materialized in the CC checkpoint
        labels.select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH RECURSIVE $minhashClusterSqlCtes
           |SELECT doc_id, cluster FROM lab ORDER BY doc_id""".stripMargin)),

    // ---- band-local MinHash clusters: the text-side 100 TB shape (r12) ---
    // dedup_minhash_clusters' spill-free execution shape — the text-side
    // port of dedup_cosine_bandlocal (verdict item 4), result-identical at
    // the shared dial by construction: same band keys (bandKeysCol), same
    // Jaccard-0.5 verify, and verify-then-distinct ≡ distinct-then-verify
    // for a deterministic predicate (R12BatchSpec pins pair-set AND
    // cluster equality). The oracle IS dedup_minhash_clusters' SQL — the
    // decontaminate_bloom pattern: a DuckDB gate for "engine-side plan
    // change that provably doesn't change the answer". See
    // [[minhashPairsBandLocalWithHandle]] for the shuffle trade and
    // [[graft.MinhashDecade]] for the measured sf10 decade.
    "dedup_minhash_clusters_bandlocal" -> Q(
      fn = (s, dir) => {
        val (pairsDf, bands) = minhashPairsBandLocalWithHandle(s, dir)
        val labels = clusterLabels(pairsDf)
        bands.unpersist() // pairs are materialized in the CC checkpoint
        labels.select(col("id").as("doc_id"), col("label").as("cluster"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH RECURSIVE $minhashClusterSqlCtes
           |SELECT doc_id, cluster FROM lab ORDER BY doc_id""".stripMargin)),

    // ---- near-dup cluster SIZE profile (added r7) ------------------------
    // The corpus-health roll-up over the minhash cluster graph: how big do
    // near-dup clusters run, and how many redundant copies does each size
    // class hold (n_redundant = (size−1)·n_clusters — the docs a
    // keep-one-survivor pass would delete)? The shape of this histogram is
    // the first thing a dedup audit reads: a fat tail of large clusters
    // means templated/boilerplate mass, many 2-clusters means crawl-level
    // duplication. All-integer output — no float surface at all. Scale
    // shape: the shared pair pipeline + CC loop, then two label-keyed
    // hash aggs (cluster → size → histogram), each collapsing by orders of
    // magnitude; nothing new shuffles at corpus scale.
    "dup_cluster_profile" -> Q(
      fn = (s, dir) => {
        val (pairsDf, shCache) = minhashPairsWithHandle(s, dir)
        val labels = clusterLabels(pairsDf)
        shCache.unpersist()
        clusterProfileFrom(labels)
      },
      oracle = Some(
        s"""WITH RECURSIVE $minhashClusterSqlCtes,
           |cs AS (SELECT cluster, COUNT(*) AS cluster_size FROM lab GROUP BY cluster)
           |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           |       COUNT(*) AS n_clusters,
           |       CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_redundant
           |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin)),

    // ---- MinHash banding S-curve: empirical recall eval (added r7) -------
    // The dedup twin of SimilarityQueries.recall_at_k: how many TRUE
    // near-dup pairs does the 4-band×2-row MinHash banding actually catch,
    // bucketed by exact Jaccard, next to the textbook collision curve
    // P(candidate) = 1 − (1 − j²)⁴ (Leskovec/Rajaraman/Ullman, MMDS ch.3).
    // Truth = EXACT Jaccard ≥ 0.5 pairs from the shared df-capped
    // candidate core ([[ngramPairStats]] with a constant source — corpus-
    // wide, cap 32: global shingle df tops out at 25 on this corpus, spec-
    // capped headroom, and shared-hot counts are corrected back in
    // exactly); predicted = the gated dedup_minhash_lsh pipeline — BOTH
    // sides reuse the SAME cached shingle frame, so the eval can never
    // drift from the operators it measures. Recall and p_band are bare
    // correctly-rounded chains (division; a fixed (1−j²)⁴ multiply chain
    // — no libm pow). Scale note: like any recall eval, truth is
    // quadratic in per-shingle df — at 100 TB you run it on a bounded
    // sample slice; the LSH side under eval stays the production shape.
    "lsh_recall_curve" -> Q(
      fn = (s, dir) => {
        // r16 (verdict item 5, guide §2.4): the banding HIT flag no longer
        // re-runs the whole minhash candidate pipeline (band self-join →
        // distinct → two shingle-carrier joins → exact-Jaccard verify).
        // For a pair already KNOWN to be true (jacc ≥ 0.5 — the truth
        // side), membership in the LSH pair set reduces to "do the two
        // docs share a band key": the verify leg of the pipeline is
        // implied by the truth predicate (the two jacc computations use
        // the same |A∩B|/|A∪B| integers, so the same double), and the
        // candidate leg's join-on-bk ≡ arrays_overlap over the two docs'
        // band-key arrays (bandKeysCol — the gated pipeline's own
        // construction, so the curve still measures the production
        // banding). One corpus-derived candidate pass and its
        // distinct/join shuffles removed at any scale; truth side
        // unchanged.
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles",
            graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "shingles")
          .cache()
        val truth = ngramJaccardPairs(sh.withColumn("source", lit("_")), 32, 0.5)
          .select(col("a_id"), col("b_id"), col("jacc"))
        val bks = sh.select(col("doc_id"),
            graft.functions.MinhashFunctions.minhashSignature(col("shingles"))
              .as("sigs"))
          .filter(col("sigs").isNotNull)
          .select(col("doc_id"), bandKeysCol.as("bks"))
        // LEFT joins + null-safe overlap: a doc absent from banding (the
        // null-sigs guard) must keep its truth row with hit = 0, exactly
        // like the old left join against the pair set
        val curve = truth
          .join(bks.select(col("doc_id").as("a_id"), col("bks").as("bka")),
            Seq("a_id"), "left")
          .join(bks.select(col("doc_id").as("b_id"), col("bks").as("bkb")),
            Seq("b_id"), "left")
          .withColumn("hit",
            when(arrays_overlap(col("bka"), col("bkb")), 1L).otherwise(0L))
          .withColumn("jbucket", floor(col("jacc") * lit(10.0)).cast("int"))
          .groupBy("jbucket")
          .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_caught"))
        val j = (col("jbucket").cast("double") + lit(0.5)) / lit(10.0)
        val x = lit(1.0) - j * j
        curve
          .select(col("jbucket"), col("n_true"), col("n_caught"),
            (col("n_caught").cast("double") / col("n_true").cast("double")).as("recall"),
            (lit(1.0) - x * x * x * x).as("p_band"))
          .orderBy("jbucket")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |shs AS (SELECT doc_id, UNNEST(shingles) AS g FROM sh),
           |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_inter
           |          FROM shs a JOIN shs b ON a.g = b.g AND a.doc_id < b.doc_id
           |          GROUP BY a.doc_id, b.doc_id),
           |sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
           |truth AS (SELECT a_id, b_id,
           |                 CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jacc
           |          FROM inter
           |          JOIN sizes sa ON sa.doc_id = a_id
           |          JOIN sizes sb ON sb.doc_id = b_id
           |          WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |         FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id),
           |lsh AS (SELECT a_id, b_id
           |        FROM cand JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id
           |        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |                / len(list_distinct(a.shingles || b.shingles)) >= 0.5),
           |curve AS (SELECT CAST(floor(jacc * CAST(10 AS DOUBLE)) AS INTEGER) AS jbucket,
           |                 COUNT(*) AS n_true,
           |                 CAST(SUM(CASE WHEN l.a_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
           |          FROM truth tr LEFT JOIN lsh l ON tr.a_id = l.a_id AND tr.b_id = l.b_id
           |          GROUP BY 1),
           |c2 AS (SELECT jbucket, n_true, n_caught,
           |              (CAST(jbucket AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(10 AS DOUBLE) AS j
           |       FROM curve),
           |x2 AS (SELECT jbucket, n_true, n_caught, CAST(1 AS DOUBLE) - j * j AS x FROM c2)
           |SELECT jbucket, n_true, n_caught,
           |       CAST(n_caught AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall,
           |       CAST(1 AS DOUBLE) - x * x * x * x AS p_band
           |FROM x2 ORDER BY jbucket""".stripMargin
      }),

    // ---- incremental dedup: new crawl batch vs existing corpus (r7) ------
    // The dedup workflow a LIVE corpus actually runs: yesterday's corpus is
    // already deduped — today's batch (stand-in: doc_id ≡ 0 mod 10) must be
    // checked against it without re-pairing the whole corpus. Two layers,
    // cheapest first: (1) exact — md5(text) membership against the old
    // digest set (a 16-byte-key semi-join); (2) near — the new docs'
    // banded minhash signatures equi-joined against the OLD corpus's band
    // index ([[bandedSignatures]], the same construction as the batch pair
    // pipeline and nearDupAlertStream, so batch/incremental/online can
    // never band differently), candidates verified by exact Jaccard ≥ 0.5.
    // Per-source accounting partitions the batch: exact / near (excluding
    // exact) / fresh.
    //
    // Scale shape: cost ∝ |new batch| × collision rate, never |corpus|² —
    // the index side is corpus-sized but bucketed by band key at rest, so
    // the per-batch join is shuffle-free on the stream side (the
    // nearDupAlertStream note); the digest set shuffles 16-byte keys only.
    "dedup_incremental" -> Q(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"))
        val old = docs.filter(col("doc_id") % 10 =!= 0)
        val neu = docs.filter(col("doc_id") % 10 === 0)
        val exact = neu.select(col("doc_id"), md5(col("text")).as("dg"))
          .join(old.select(md5(col("text")).as("dg")).distinct(), Seq("dg"), "left_semi")
          .select("doc_id")
        val oldIx = bandedSignatures(old)
          .select(col("doc_id").as("o_id"), col("shingles").as("o_sh"), col("bk"))
        val near = bandedSignatures(neu)
          .join(oldIx, Seq("bk"))
          .withColumn("jacc",
            size(array_intersect(col("shingles"), col("o_sh"))).cast("double")
              / size(array_union(col("shingles"), col("o_sh"))))
          .filter(col("jacc") >= 0.5)
          .select("doc_id").distinct()
        neu.join(exact.withColumn("is_exact", lit(1)), Seq("doc_id"), "left")
          .join(near.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_new"),
            sum(when(col("is_exact").isNotNull, 1L).otherwise(0L)).as("n_exact"),
            sum(when(col("is_exact").isNull && col("is_near").isNotNull, 1L)
              .otherwise(0L)).as("n_near"),
            sum(when(col("is_exact").isNull && col("is_near").isNull, 1L)
              .otherwise(0L)).as("n_fresh"))
          .orderBy("source")
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |exact AS (SELECT DISTINCT n.doc_id
           |          FROM t n JOIN t o ON md5(n.text) = md5(o.text)
           |          WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 != 0),
           |cand AS (SELECT DISTINCT x.doc_id AS n_id, y.doc_id AS o_id
           |         FROM bands x JOIN bands y ON x.bk = y.bk
           |         WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 != 0),
           |near AS (SELECT DISTINCT n_id AS doc_id
           |         FROM cand JOIN sh a ON a.doc_id = n_id JOIN sh b ON b.doc_id = o_id
           |         WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |                 / len(list_distinct(a.shingles || b.shingles)) >= 0.5)
           |SELECT source, COUNT(*) AS n_new,
           |       CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           |       CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           |       CAST(SUM(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh
           |FROM t LEFT JOIN exact e ON t.doc_id = e.doc_id
           |       LEFT JOIN near nr ON t.doc_id = nr.doc_id
           |WHERE t.doc_id % 10 = 0
           |GROUP BY source ORDER BY source""".stripMargin
      }),

    // ---- cluster survivorship: the merge-policy half of dedup (added r6) -
    // After near-dup clustering, CHOOSE the representative: per cluster the
    // longest document wins (doc_id as the deterministic tie-break — the
    // quality-based generalization of dedup_keep_longest's exact-hash
    // groups), and the accounting reports members and reclaimable chars.
    // The argmax is a map-side min/max(struct) aggregate over the
    // (doc, cluster, n_chars) join — no window, no second shuffle beyond
    // the label join's. Labels come from the same MinHash pair graph + CC
    // loop as dedup_minhash_clusters, so the three dedup verbs (pairs →
    // clusters → survivors) provably compose.
    "dedup_survivorship" -> Q(
      fn = (s, dir) => {
        val (pairsDf, shCache) = minhashPairsWithHandle(s, dir)
        val labels = clusterLabels(pairsDf)
        shCache.unpersist()
        survivorshipFrom(labels, Tables.load(s, dir, "documents"))
      },
      oracle = Some {
        val sigs = (0 until NumHashes).map(k =>
          s"list_min(list_transform(shingles, s -> substring(md5(s), ${4 * k + 1}, 4))) AS sig$k").mkString(",\n       ")
        val bandSelects = (0 until NumHashes / BandSize).map(b =>
          s"SELECT doc_id, md5('$b' || '|' || sig${2 * b} || '|' || sig${2 * b + 1}) AS bk FROM sig")
          .mkString("\n  UNION ALL\n  ")
        s"""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3),
           |sig AS (SELECT doc_id, shingles,
           |       $sigs
           |FROM sh),
           |bands AS (
           |  $bandSelects
           |),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
           |  FROM bands x JOIN bands y ON x.bk = y.bk AND x.doc_id < y.doc_id
           |),
           |pairs AS (
           |  SELECT a_id, b_id FROM cand
           |  JOIN sh a ON a.doc_id = a_id JOIN sh b ON b.doc_id = b_id
           |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) >= 0.5),
           |sym AS (SELECT a_id AS s, b_id AS d FROM pairs
           |        UNION ALL SELECT b_id, a_id FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM sym
           |  UNION
           |  SELECT r.s, e2.d FROM reach r JOIN sym e2 ON r.d = e2.s WHERE r.s != e2.d
           |),
           |labels AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
           |           FROM reach GROUP BY s),
           |j AS (SELECT l.cluster, l.doc_id, d.n_chars
           |      FROM labels l JOIN documents d USING (doc_id)),
           |rk AS (SELECT cluster, doc_id, n_chars, ROW_NUMBER() OVER (
           |         PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rk FROM j),
           |agg AS (SELECT cluster, COUNT(*) AS n_members,
           |               CAST(SUM(n_chars) AS BIGINT) AS total FROM j GROUP BY cluster)
           |SELECT a.cluster, r.doc_id AS survivor_id, a.n_members,
           |       CAST(a.total - r.n_chars AS BIGINT) AS reclaimed_chars
           |FROM agg a JOIN rk r ON r.cluster = a.cluster AND r.rk = 1
           |ORDER BY a.cluster""".stripMargin
      }),

    // ---- n-gram Jaccard similarity over a candidate window ---------------
    // All-pairs within each source (sources are small groups) — exact
    // n-gram Jaccard without LSH, the brute-force twin of the query above.
    "ngram_jaccard_pairs" -> Q(
      fn = (s, dir) => {
        // Scalable shape (r6): candidate pairs come from an equi-join of the
        // exploded (source, shingle) table with itself, RESTRICTED to
        // shingles whose per-source document frequency is ≤ NgramDfCap —
        // a shingle in d docs contributes d² join rows, so without the cap
        // one boilerplate shingle ("all rights reserved …", df in the
        // millions on a web corpus) turns the self-join quadratic on a
        // single reducer key. Hot shingles carry ~zero Jaccard signal:
        // near-dup pairs share long runs of shingles that are essentially
        // unique to the pair (measured on this corpus: EVERY pair with
        // jacc ≥ 0.2 at sf0.001/0.01/0.1 shares a shingle with df ≤ 2,
        // while the cap is 8). The reported jacc stays EXACT — shared hot
        // shingles are counted back in via per-doc hot lists (see
        // [[ngramJaccardPairs]]) — so the cap only bounds candidate
        // generation and the uncapped oracle stays hash-identical.
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "source", "shingles")
          .cache() // feeds sizes + both sides of the exploded self-join
        ngramJaccardPairs(sh, NgramDfCap, 0.2)
          .orderBy("source", "a_id", "b_id")
      },
      oracle = Some(
        s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, source, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3)
           |SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
           |       CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) AS jacc
           |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(list_distinct(a.shingles || b.shingles)) >= 0.2
           |ORDER BY a.source, a_id, b_id""".stripMargin)),

    // ---- n-gram CONTAINMENT pairs (added r6) -----------------------------
    // Asymmetric near-dup detection: containment(A in B) = |A∩B| / |A|
    // catches a short document swallowed whole by a longer one — a case
    // Jaccard misses entirely (a 10-shingle doc inside a 1000-shingle doc
    // has jacc ≈ 0.01 but containment 1.0). The RefinedWeb/Dolma-style
    // sub-document dup signal. Same capped candidate generation and exact
    // intersection counts as ngram_jaccard_pairs ([[ngramPairStats]]);
    // reported pairs carry both directions' containment, qualifying when
    // either reaches 0.5. Planted near-dups on this corpus sit at ~1.0.
    "ngram_containment_pairs" -> Q(
      fn = (s, dir) => {
        val sh = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 3)
          .withColumn("shingles", graft.functions.ShingleFunctions.shingleSet(col("toks")))
          .select("doc_id", "source", "shingles")
          .cache()
        ngramPairStats(sh, NgramDfCap)
          .withColumn("cont_a", col("n_inter").cast("double") / col("sz_a"))
          .withColumn("cont_b", col("n_inter").cast("double") / col("sz_b"))
          .filter(greatest(col("cont_a"), col("cont_b")) >= 0.5)
          .select(col("source"), col("a_id"), col("b_id"),
            Q.grid6(col("cont_a")).as("cont_a"), Q.grid6(col("cont_b")).as("cont_b"))
          .orderBy("source", "a_id", "b_id")
      },
      oracle = Some(
        s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
           |sh AS (SELECT doc_id, source, $shinglesSqlDuck AS shingles FROM t WHERE len(toks) >= 3)
           |SELECT a.source, a.doc_id AS a_id, b.doc_id AS b_id,
           |       floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(a.shingles) * 1000000.0) / 1000000.0 AS cont_a,
           |       floor(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           |         / len(b.shingles) * 1000000.0) / 1000000.0 AS cont_b
           |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
           |WHERE greatest(
           |        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(a.shingles),
           |        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) / len(b.shingles)) >= 0.5
           |ORDER BY a.source, a_id, b_id""".stripMargin)),

    // ---- heuristic language ID: stopword-list scoring -------------------
    // (honest n-gram/stopword operator; this synthetic corpus shares one
    // vocabulary across langs, so predictions degenerate to the tie-break —
    // the operator and its oracle are exact regardless)
    "lang_id" -> Q(
      fn = (s, dir) => {
        langScored(s, dir).select(
            col("doc_id"), col("predicted"),
            greatest(col("n_en"), col("n_de"), col("n_es"), col("n_fr")).as("score"))
          .orderBy("doc_id")
      },
      oracle = Some(
        s"""WITH $langPredSqlCtes
           |SELECT doc_id, predicted,
           |       CAST(greatest(n_en, n_de, n_es, n_fr) AS INTEGER) AS score
           |FROM pred ORDER BY doc_id""".stripMargin)),

    // ---- language-ID confusion matrix (added r7) -------------------------
    // The eval of the classifier above: declared `lang` label × lang_id
    // prediction counts with per-label shares — the diagonal is recall, the
    // off-diagonal mass shows WHERE the stopword heuristic leaks (and on
    // this corpus it leaks plenty: docs are synthetic word salads). Shares
    // Spark and oracle both derive from the SAME prediction rule
    // (langScored / langPredSqlCtes), so the eval cannot drift from the
    // classifier it measures — the recall_at_k discipline for text.
    //
    // Scale shape: the prediction is a stateless per-row projection; the
    // confusion agg collapses map-side to ≤ |langs|² rows; label totals
    // derive from those same rows (broadcast). Float parity: counts exact,
    // share is ONE bare division.
    "lang_confusion" -> Q(
      fn = (s, dir) => {
        val j = langScored(s, dir)
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val tot = j.groupBy("lang").agg(sum(col("n")).as("tt"))
        j.join(broadcast(tot), Seq("lang"))
          .select(col("lang"), col("predicted"), col("n"),
            (col("n").cast("double") / col("tt")).as("share"))
          .orderBy("lang", "predicted")
      },
      oracle = Some(
        s"""WITH $langPredSqlCtes,
           |j AS (SELECT lang, predicted, CAST(COUNT(*) AS BIGINT) AS n
           |      FROM pred GROUP BY lang, predicted),
           |tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tt FROM j GROUP BY lang)
           |SELECT lang, predicted, n, CAST(n AS DOUBLE) / tt AS share
           |FROM j JOIN tot USING (lang) ORDER BY lang, predicted""".stripMargin)),

    // ---- multimodal decode via mapPartitions (stubbed codec) ------------
    "multimodal_decode" -> Q(
      fn = (s, dir) => {
        graft.functions.MultimodalFunctions
          .decodeFeatures(Tables.load(s, dir, "documents"))
          .toDF()
          .orderBy("doc_id")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents)
          |SELECT doc_id,
          |       CAST(nb AS INTEGER) AS n_bytes,
          |       CAST(nb % 640 AS INTEGER) AS fake_width,
          |       CAST(nb % 480 AS INTEGER) AS fake_height,
          |       3 AS channels,
          |       list_reduce(list_transform(range(1, least(length(text), 64) + 1),
          |                                  i -> ascii(substring(text, i, 1))),
          |                   (a, b) -> a + b) / 64.0 / 255.0 AS sharpness
          |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- multimodal shape bucketing for batch decode (added r8) ----------
    // Aspect-ratio bucketing — the NaViT/SDXL-style preprocessing step a
    // multimodal pipeline runs so GPU decode and training batches have uniform
    // tensor shapes: media grouped into (width-bin, height-bin) buckets,
    // each padded to the bucket's max dims, batches of 32. The emitted
    // pad_ratio is the wasted-pixel share a bucketing review minimizes
    // (fewer buckets = bigger batches but more padding). Geometry comes
    // from the SAME deterministic stub as multimodal_decode (bytes % 640 /
    // % 480 — the one function a real deployment replaces); everything
    // else is the real op: integer binning, per-bucket max/count/ceil,
    // pad_ratio ONE bare division of exact int64 pixel sums.
    //
    // Scale shape: map-only geometry projection → one (wb, hb) hash agg
    // (≤ 10×10 buckets); nothing corpus-sized past it.
    "multimodal_shape_buckets" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .select(length(encode(col("text"), "UTF-8")).cast("long").as("nb"))
          .select((col("nb") % 640).as("w"), (col("nb") % 480).as("h"))
          .select(col("w"), col("h"),
            expr("w div 64").as("wb"), expr("h div 48").as("hb"))
          .groupBy("wb", "hb")
          .agg(count(lit(1)).as("n_items"), max(col("w")).as("pad_w"),
            max(col("h")).as("pad_h"), sum(col("w") * col("h")).as("px"))
          .select(col("wb"), col("hb"), col("n_items"), col("pad_w"), col("pad_h"),
            expr("(n_items + 31) div 32").as("n_batches"),
            when(col("pad_w") * col("pad_h") === 0, lit(0.0))
              .otherwise(
                (col("pad_w") * col("pad_h") * col("n_items") - col("px")).cast("double")
                  / (col("pad_w") * col("pad_h") * col("n_items")).cast("double"))
              .as("pad_ratio"))
          .orderBy("wb", "hb")
      },
      oracle = Some(
        """WITH g AS (SELECT octet_length(encode(text)) % 640 AS w,
          |                  octet_length(encode(text)) % 480 AS h
          |           FROM documents),
          |b AS (SELECT w, h, w // 64 AS wb, h // 48 AS hb FROM g),
          |a AS (SELECT wb, hb, CAST(COUNT(*) AS BIGINT) AS n_items,
          |             CAST(MAX(w) AS BIGINT) AS pad_w, CAST(MAX(h) AS BIGINT) AS pad_h,
          |             CAST(SUM(w * h) AS BIGINT) AS px
          |      FROM b GROUP BY wb, hb)
          |SELECT CAST(wb AS BIGINT) AS wb, CAST(hb AS BIGINT) AS hb,
          |       n_items, pad_w, pad_h,
          |       (n_items + 31) // 32 AS n_batches,
          |       CASE WHEN pad_w * pad_h = 0 THEN 0.0
          |            ELSE CAST(pad_w * pad_h * n_items - px AS DOUBLE)
          |                 / CAST(pad_w * pad_h * n_items AS DOUBLE) END AS pad_ratio
          |FROM a ORDER BY wb, hb""".stripMargin)),

    // ---- the full curation pipeline as ONE query -------------------------
    // documents → exact-dedup survivors → quality gate → length gate →
    // per-source corpus stats. The end-to-end shape of a training-data
    // pipeline, entirely declarative so Catalyst plans it as a whole
    // (semi-join against survivors, no materialization between stages).
    //
    // r13: the quality cutoff is DERIVED — the Otsu between-class-variance
    // argmax over the same score's band grid (the shared
    // SelectionQueries.otsuBand builder, so pipeline cut ≡
    // otsu_quality_threshold's split by construction; spec-pinned in
    // R13BatchSpec). The otsu 1-row frame broadcast-joins in (the
    // quota/cutoff precedent); docs keep band > best_band. The old
    // hand-chosen 0.55 (band 54) remains as the documented FALLBACK dial
    // for a degenerate corpus where the argmax is undefined (empty or
    // single-band histogram → best_band NULL).
    "pipeline_curation" -> Q(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val survivors = docs
          .groupBy(md5(lower(trim(col("text")))).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val cutoff = SelectionQueries.otsuBand(docs)
          .select(coalesce(col("best_band"), lit(54L)).as("cut_band"))
        docs
          .join(survivors, Seq("doc_id"), "left_semi")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("n_stop", expr(s"size(filter(toks, t -> t IN (${sqList(stopwords)})))"))
          .withColumn("q6", floor((
            lit(0.4) * least(lit(1.0), col("n_tokens").cast("double") / 50.0) +
              lit(0.3) * (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) +
              lit(0.3) * least(lit(1.0), length(col("text")).cast("double") / 200.0))
            * 1000000.0).cast("long"))
          .withColumn("quality", col("q6").cast("double") / 1000000.0)
          .crossJoin(broadcast(cutoff))
          .filter(expr("q6 div 10000") > col("cut_band")
            && col("n_tokens").between(20, 100))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(col("quality").cast("decimal(10,6)")).cast("double").as("sum_quality"))
          .orderBy("source")
      },
      oracle = Some(
        s"""WITH ${SelectionQueries.otsuSqlCtes},
           |cutoff AS (SELECT COALESCE((SELECT g FROM best), 54) AS cut_band),
           |survivors AS (
           |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(LOWER(TRIM(text)))),
           |scored AS (
           |  SELECT d.source, len(string_split(d.text, ' ')) AS n_tokens,
           |         CAST(floor((0.4 * least(1.0, CAST(len(string_split(d.text, ' ')) AS DOUBLE) / 50.0)
           |             + 0.3 * (1.0 - CAST(len(list_filter(string_split(d.text, ' '), t -> t IN (${sqList(stopwords)}))) AS DOUBLE)
           |                            / len(string_split(d.text, ' ')))
           |             + 0.3 * least(1.0, CAST(length(d.text) AS DOUBLE) / 200.0))
           |             * 1000000.0) AS BIGINT) AS q6
           |  FROM documents d
           |  WHERE EXISTS (SELECT 1 FROM survivors s WHERE s.doc_id = d.doc_id))
           |SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           |       CAST(SUM(CAST(CAST(q6 AS DOUBLE) / 1000000.0 AS DECIMAL(10,6))) AS DOUBLE) AS sum_quality
           |FROM scored CROSS JOIN cutoff
           |WHERE q6 // 10000 > cut_band AND n_tokens BETWEEN 20 AND 100
           |GROUP BY source ORDER BY source""".stripMargin),
      headline = true),

    // ---- multimodal plumbing: opaque binary column + typed metadata ------
    // The "decode" is a deterministic stub (no media libs in this container):
    // metadata is derived purely from the bytes, identically on both engines.
    "multimodal_meta" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("blob", encode(col("text"), "UTF-8"))
          .select(
            col("doc_id"),
            octet_length(col("blob")).as("n_bytes"),
            // corpus text is ASCII → first 8 chars == first 8 bytes
            lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("header_hex"),
            md5(col("blob")).as("content_hash"),
            (octet_length(col("blob")) % 640).as("fake_width"),
            (octet_length(col("blob")) % 480).as("fake_height"))
          .orderBy("doc_id")
      },
      oracle = Some(
        """SELECT doc_id,
          |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
          |       lower(hex(encode(substring(text, 1, 8)))) AS header_hex,
          |       md5(text) AS content_hash,
          |       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS fake_width,
          |       CAST(octet_length(encode(text)) % 480 AS INTEGER) AS fake_height
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- multimodal frame sampling (added r5) ----------------------------
    // The video half of the multimodal plumbing: treat the binary payload as
    // fixed-size 256-byte "frames" and sample every 4th one — the standard
    // frame-subsampling step before a vision encoder. All REAL Spark-side
    // mechanics (binary substring, per-frame identity hash, generator
    // explode bounded by payload length); only the payload itself is the
    // honest stub (UTF-8 of the text — the corpus is ASCII, so the DuckDB
    // oracle mirrors byte offsets with character offsets, the
    // multimodal_meta discipline). Scale shape: pure per-row generator —
    // parallelism-preserving, no shuffle before the final sort; sampled
    // frame bytes stream straight to the (stub) decoder without
    // materializing unsampled frames.
    "multimodal_framesample" -> Q(
      fn = (s, dir) => {
        Tables.load(s, dir, "documents")
          .withColumn("blob", encode(col("text"), "UTF-8"))
          .withColumn("nb", octet_length(col("blob")))
          .select(col("doc_id"), col("blob"),
            explode(expr("sequence(0, (nb - 1) div 256)")).as("i"))
          .filter(col("i") % 4 === 0)
          .select(
            col("doc_id"),
            col("i").cast("int").as("frame_idx"),
            (col("i") * 256).as("byte_off"),
            octet_length(expr("substring(blob, int(i * 256 + 1), 256)"))
              .as("n_frame_bytes"),
            md5(expr("substring(blob, int(i * 256 + 1), 256)")).as("frame_hash"))
          .orderBy("doc_id", "frame_idx")
      },
      oracle = Some(
        """WITH f AS (SELECT doc_id, text,
          |             UNNEST(range((octet_length(encode(text)) - 1) // 256 + 1)) AS i
          |           FROM documents)
          |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
          |       CAST(i * 256 AS BIGINT) AS byte_off,
          |       CAST(octet_length(encode(substring(text, CAST(i * 256 + 1 AS INTEGER), 256))) AS INTEGER) AS n_frame_bytes,
          |       md5(substring(text, CAST(i * 256 + 1 AS INTEGER), 256)) AS frame_hash
          |FROM f WHERE i % 4 = 0
          |ORDER BY doc_id, frame_idx""".stripMargin)),

    // ---- exact duplicated-substring extraction (added r9) ----------------
    // The Lee et al. 2022 ("Deduplicating Training Data Makes Language
    // Models Better") operator the chunk family approximates: find the
    // MAXIMAL runs of ≥50 consecutive tokens that are repeated verbatim
    // across ≥2 distinct documents — the exact-substring dedup signal at
    // its declared grain, not the chunk-aligned stand-in
    // (dedup_chunk_overlap only sees 50-token windows at stride 40, so a
    // duplicated passage straddling a chunk boundary can hide; stride-1
    // windows see every alignment). Method: suffix-array semantics via
    // sorted gram runs — every 50-token window (stride 1) is hashed; a
    // window duplicated across documents marks its start position; maximal
    // runs of consecutive duplicated positions in a doc are exactly the
    // maximal duplicated substrings (a duplicated span of L ≥ 50 tokens is
    // L−49 consecutive duplicated windows, and conversely). Reported per
    // source: span count, affected docs, duplicated token mass, longest
    // span. NOTE dup_tokens is an UPPER BOUND on distinct duplicated
    // tokens: two maximal duplicated-position runs separated by a gap of
    // < 50 positions have overlapping 50-token windows, so the overlapped
    // tokens are counted in both spans (consistent with the oracle, which
    // shares the grain).
    //
    // Scale shape: the stride-1 explode is the honest cost — n_tokens rows
    // per doc, each carrying a 16-byte fingerprint (never the window text)
    // into ONE hash agg keyed by the gram fingerprint; positions of
    // duplicated grams join back on that same key (co-partitioned, no
    // broadcast of anything corpus-sized); the islands window partitions
    // by doc_id over ≤ doc-length position rows (PlanGuard R3-clean).
    // The per-position hash is [[RollingWindowHashes]] (r10, the swap the
    // r9 note promised): all window fingerprints of a doc in ONE
    // Rabin-Karp pass — O(1)/position vs the md5 form's O(width) slice +
    // 300-byte digest (A/B in PLANS.md; RollingHashSpec pins the
    // duplicated-position sets ≡ the md5 form's). The 128-bit fingerprint
    // keeps cross-doc collisions negligible at 100 TB gram counts; shard
    // the gram table by hash prefix there, as Lee et al. do — the plan
    // shape is unchanged.
    "dedup_substrings" -> Q(
      fn = (s, dir) => {
        val grams = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 50)
          .select(col("doc_id"), col("source"),
            posexplode(graft.functions.WindowMd5Functions
              .rollingWindowHashes(col("toks"), 50)))
          .select(col("doc_id"), col("source"),
            (col("pos") + 1).cast("long").as("p"), col("col").as("gh"))
        val dup = grams.groupBy("gh")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select("gh")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("p"))
        val spans = grams.join(dup, Seq("gh"))
          .select("doc_id", "source", "p")
          .withColumn("grp", col("p") - row_number().over(w))
          .groupBy(col("doc_id"), col("source"), col("grp"))
          .agg(min(col("p")).as("a"), max(col("p")).as("b"))
          .withColumn("span_tokens", col("b") - col("a") + lit(50L))
        spans.groupBy("source")
          .agg(count(lit(1)).as("n_spans"),
            countDistinct(col("doc_id")).as("n_docs_affected"),
            sum(col("span_tokens")).as("dup_tokens"),
            max(col("span_tokens")).as("max_span_tokens"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
          |g AS (SELECT doc_id, source, UNNEST(range(1, len(toks) - 48)) AS p, toks
          |      FROM t WHERE len(toks) >= 50),
          |h AS (SELECT doc_id, source, CAST(p AS BIGINT) AS p,
          |             md5(array_to_string(toks[p : p + 49], ' ')) AS gh FROM g),
          |dup AS (SELECT gh FROM h GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
          |isl AS (SELECT doc_id, source, p,
          |               p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
          |        FROM h JOIN dup USING (gh)),
          |spans AS (SELECT doc_id, source, MIN(p) AS a, MAX(p) AS b
          |          FROM isl GROUP BY doc_id, source, grp)
          |SELECT source, COUNT(*) AS n_spans,
          |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
          |       CAST(SUM(b - a + 50) AS BIGINT) AS dup_tokens,
          |       CAST(MAX(b - a + 50) AS BIGINT) AS max_span_tokens
          |FROM spans GROUP BY source ORDER BY source""".stripMargin)),

    // ---- cross-source exact-substring contamination matrix (added r10) ----
    // dedup_substrings says HOW MUCH text is duplicated; this says BETWEEN
    // WHOM: for each ordered source pair (a < b), the number of distinct
    // 50-token windows both sources contain verbatim — the contamination
    // matrix that catches a scraped mirror, a shared boilerplate vendor,
    // or a train/eval bleed BEFORE it shows up as benchmark inflation
    // (source_dup_matrix is the near-dup/minhash analogue; this is the
    // exact-substring grain). Same [[RollingWindowHashes]] gram frame as
    // dedup_substrings (one rolling pass per doc); the oracle counts the
    // same distinct-window sets through md5 grams — gram identities
    // differ, the per-pair distinct counts cannot (RollingHashSpec's
    // collision argument).
    //
    // Scale shape: digests-only — (source, gh) distinct agg, then an
    // equi-join on gh whose fan-out is ≤ |sources| per key; output
    // ≤ |sources|² rows. Never carries window text.
    "dup_span_sources" -> Q(
      fn = (s, dir) => {
        val grams = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 50)
          .select(col("source"),
            posexplode(graft.functions.WindowMd5Functions
              .rollingWindowHashes(col("toks"), 50)))
          .select(col("source"), col("col").as("gh"))
          .distinct()
        grams.as("a").join(grams.as("b"),
            col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(count(lit(1)).as("n_shared_windows"))
          .orderBy("source_a", "source_b")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
          |g AS (SELECT source, UNNEST(range(1, len(toks) - 48)) AS p, toks
          |      FROM t WHERE len(toks) >= 50),
          |h AS (SELECT DISTINCT source,
          |             md5(array_to_string(toks[p : p + 49], ' ')) AS gh FROM g)
          |SELECT a.source AS source_a, b.source AS source_b,
          |       CAST(COUNT(*) AS BIGINT) AS n_shared_windows
          |FROM h a JOIN h b ON a.gh = b.gh AND a.source < b.source
          |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin)),

    // ---- degenerate-repetition audit per source (added r10) ---------------
    // The "aaaa…" / copy-paste-loop detector every pretraining filter
    // ships: per doc, the share of tokens taken by its single most
    // frequent token (top1_share) — a doc whose top token owns >30% of
    // its mass is near-certainly templated/degenerate (the Gopher rule's
    // first line). Rolled up per source as a 4-band histogram (≤10%,
    // ≤30%, ≤50%, >50%) plus the flagged-doc share. Exact micro-grid:
    // share6 = (top·10⁶) div n per doc; band edges integer comparisons;
    // the reported share ONE bare division.
    //
    // Scale shape: one (doc, tok) hash agg → per-doc max/sum agg (both
    // collapse map-side) → ≤|sources|·4 roll-up. Scan-bound.
    "repetition_ratio" -> Q(
      fn = (s, dir) => {
        val tf = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("c"))
        val perDoc = tf.groupBy("doc_id", "source")
          .agg(max(col("c")).as("top"), sum(col("c")).as("n"))
          .withColumn("share6", expr("(top * 1000000L) div n"))
          .withColumn("band",
            when(col("share6") <= 100000L, 0L)
              .when(col("share6") <= 300000L, 1L)
              .when(col("share6") <= 500000L, 2L).otherwise(3L))
        perDoc.groupBy("source", "band")
          .agg(count(lit(1)).as("n_docs"))
          .join(broadcast(perDoc.groupBy("source")
            .agg(count(lit(1)).as("n_src"),
              sum(when(col("share6") > 300000L, 1L).otherwise(0L)).as("n_flagged"))),
            Seq("source"))
          .select(col("source"), col("band"), col("n_docs"),
            col("n_flagged"),
            (col("n_flagged").cast("double") / col("n_src").cast("double"))
              .as("flagged_share"))
          .orderBy("source", "band")
      },
      oracle = Some(
        """WITH t AS (SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS tok
          |           FROM documents),
          |tf AS (SELECT doc_id, source, tok, CAST(COUNT(*) AS BIGINT) AS c
          |       FROM t GROUP BY doc_id, source, tok),
          |pd AS (SELECT doc_id, source,
          |              (MAX(c) * 1000000) // SUM(c) AS share6
          |       FROM tf GROUP BY doc_id, source),
          |b AS (SELECT source,
          |             CASE WHEN share6 <= 100000 THEN 0
          |                  WHEN share6 <= 300000 THEN 1
          |                  WHEN share6 <= 500000 THEN 2 ELSE 3 END AS band,
          |             share6
          |      FROM pd),
          |h AS (SELECT source, CAST(band AS BIGINT) AS band,
          |             CAST(COUNT(*) AS BIGINT) AS n_docs
          |      FROM b GROUP BY source, band),
          |f AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src,
          |             CAST(SUM(CASE WHEN share6 > 300000 THEN 1 ELSE 0 END) AS BIGINT)
          |               AS n_flagged
          |      FROM b GROUP BY source)
          |SELECT h.source AS source, band, n_docs, n_flagged,
          |       CAST(n_flagged AS DOUBLE) / CAST(n_src AS DOUBLE) AS flagged_share
          |FROM h JOIN f ON h.source = f.source
          |ORDER BY h.source, band""".stripMargin)),

    // ---- head/tail token-position drift per source (added r10) ------------
    // The boilerplate-POSITION detector: per source, total-variation
    // distance between the unigram distribution of each doc's first 50
    // tokens and its last 50 tokens (docs ≥ 100 tokens, so head and tail
    // never overlap). Headers, footers, navigation chrome, and license
    // blocks live at document edges — a high TV says the source needs the
    // boilerplate_prefixes treatment before training. Exact micro-grid
    // surface: p6 = (c·10⁶) div n per side, TV6 = Σ|p6h − p6t| div 2 over
    // the union vocabulary (sum of exact ints), reported TV one final
    // cast chain.
    //
    // Scale shape: map-side slice (head/tail arrays, no full-text
    // explode), one (source, side, tok) hash agg, a full-outer tok join
    // per source (vocab-bounded), ≤|sources| roll-up.
    "token_position_drift" -> Q(
      fn = (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 100)
        val head = d.select(col("source"),
          explode(expr("slice(toks, 1, 50)")).as("tok"), lit(1L).as("h"))
        val tail0 = d.select(col("source"),
          explode(expr("slice(toks, -50, 50)")).as("tok"), lit(0L).as("h"))
        val c = head.unionAll(tail0)
          .groupBy("source", "tok")
          .agg(sum(col("h")).as("ch"), sum(lit(1L) - col("h")).as("ct"))
        val tot = c.groupBy("source")
          .agg(sum(col("ch")).as("nh"), sum(col("ct")).as("nt"))
        c.join(broadcast(tot), Seq("source"))
          .select(col("source"),
            abs(expr("(ch * 1000000L) div nh") - expr("(ct * 1000000L) div nt"))
              .as("adiff"))
          .groupBy("source")
          .agg(expr("sum(adiff) div 2").as("tv6"))
          .join(broadcast(tot), Seq("source"))
          .select(col("source"), col("nh").as("head_tokens"),
            col("nt").as("tail_tokens"), col("tv6"),
            (col("tv6").cast("double") / 1000000.0).as("tv"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
          |f AS (SELECT source, toks FROM d WHERE len(toks) >= 100),
          |hd AS (SELECT source, UNNEST(toks[1:50]) AS tok, 1 AS h FROM f),
          |tl AS (SELECT source, UNNEST(toks[-50:]) AS tok, 0 AS h FROM f),
          |c AS (SELECT source, tok, CAST(SUM(h) AS BIGINT) AS ch,
          |             CAST(SUM(1 - h) AS BIGINT) AS ct
          |      FROM (SELECT * FROM hd UNION ALL SELECT * FROM tl) u
          |      GROUP BY source, tok),
          |tot AS (SELECT source, CAST(SUM(ch) AS BIGINT) AS nh,
          |               CAST(SUM(ct) AS BIGINT) AS nt
          |        FROM c GROUP BY source),
          |a AS (SELECT c.source AS src,
          |             abs((ch * 1000000) // nh - (ct * 1000000) // nt) AS adiff
          |      FROM c JOIN tot ON c.source = tot.source),
          |m AS (SELECT src AS source, CAST(SUM(adiff) // 2 AS BIGINT) AS tv6
          |      FROM a GROUP BY src)
          |SELECT m.source AS source, nh AS head_tokens, nt AS tail_tokens, tv6,
          |       CAST(tv6 AS DOUBLE) / 1000000.0 AS tv
          |FROM m JOIN tot ON m.source = tot.source ORDER BY m.source""".stripMargin)),

    // ---- Burrows' Delta stylometric distance (added r10) ------------------
    // The classic authorship/register distance (Burrows 2002): over the 50
    // highest-frequency corpus tokens (function words dominate — exactly
    // the stylometric signal), z-score each source's relative frequency
    // against the cross-source distribution, and Delta(a,b) = mean |z_a −
    // z_b|. Sources pairing as near-identical here share a template or a
    // pipeline, not just topic — the register-level dual of
    // dup_span_sources' verbatim matrix. ENGINE-VERSION-PROOF throughout:
    // freq6 = (c·10⁶) div n_s, token mean6 = Σfreq6 div S, σ6 =
    // isqrt(Σdev² div S), z6 = (dev·10⁶) div σ6 (zero-variance tokens
    // contribute z = 0), delta6 = Σ|z6_a − z6_b| div 50 — all int64, ONE
    // bare division nowhere (the reported delta is delta6/10⁶ as a final
    // exact-int cast chain).
    //
    // Scale shape: one (source, tok) agg filtered to the top-50 broadcast
    // vocab (TakeOrderedAndProject) → a 50·|sources| frame; everything
    // after is constant-size (token stats, pair join ≤ 50·|sources|²).
    "burrows_delta" -> Q(
      fn = (s, dir) => {
        // r16 batch 3 (guide §2.3): top, srcTot and freq each re-ran the
        // corpus tokenize+explode (ReuseCheck: 20 executed scans, 4 reused
        // — three corpus aggregations per run). All three are re-
        // aggregations of the (source, tok) counts: tc = Σ_sources c,
        // n = Σ_toks c, freq = the counts filtered to the top list. ONE
        // corpus explode feeding one (source, tok)-vocab-sized checkpoint.
        val stok = Q.truncate(Tables.load(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c")))
        val top = stok.groupBy("tok").agg(sum(col("c")).as("tc"))
          .orderBy(col("tc").desc, col("tok")).limit(50).select("tok")
        val srcTot = stok.groupBy("source").agg(sum(col("c")).as("n"))
        val freq = stok.join(broadcast(top), Seq("tok"))
          .select(col("source"), col("tok"), col("c"))
        // dense (source × top-token) frame: a source missing a top token
        // has freq 0, and MUST participate (its z is strongly negative)
        val dense = srcTot.crossJoin(broadcast(top))
          .join(freq, Seq("source", "tok"), "left")
          .select(col("source"), col("tok"),
            expr("(coalesce(c, 0L) * 1000000L) div n").as("f6"))
        val stats = dense.groupBy("tok")
          .agg(sum(col("f6")).as("sf"), sum(col("f6") * col("f6")).as("sff"),
            count(lit(1)).as("ns2"))
          .select(col("tok"), expr("sf div ns2").as("mean6"),
            Q.isqrt(expr("(sff - (sf * sf) div ns2) div ns2")).as("sigma6"))
        val z = dense.join(broadcast(stats), Seq("tok"))
          .select(col("source"), col("tok"),
            when(col("sigma6") === 0, 0L)
              .otherwise(expr("((f6 - mean6) * 1000000L) div sigma6")).as("z6"))
        z.as("a").join(z.as("b"),
            col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
          .agg(expr("sum(abs(a.z6 - b.z6)) div 50").as("delta6"))
          .select(col("source_a"), col("source_b"), col("delta6"),
            (col("delta6").cast("double") / 1000000.0).as("delta"))
          .orderBy("source_a", "source_b")
      },
      oracle = Some(
        """WITH t AS (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents),
          |top AS (SELECT tok FROM (
          |          SELECT tok, COUNT(*) AS tc FROM t GROUP BY tok
          |          ORDER BY tc DESC, tok LIMIT 50) q),
          |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY source),
          |fr AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          |       FROM t JOIN top USING (tok) GROUP BY source, tok),
          |dense AS (SELECT st.source, top.tok,
          |                 (COALESCE(c, 0) * 1000000) // n AS f6
          |          FROM st CROSS JOIN top
          |          LEFT JOIN fr ON fr.source = st.source AND fr.tok = top.tok),
          |stats0 AS (SELECT tok, CAST(SUM(f6) AS BIGINT) AS sf,
          |                  CAST(SUM(f6 * f6) AS BIGINT) AS sff,
          |                  CAST(COUNT(*) AS BIGINT) AS ns2
          |           FROM dense GROUP BY tok),
          |stats1 AS (SELECT tok, sf // ns2 AS mean6,
          |                  (sff - (sf * sf) // ns2) // ns2 AS var12
          |           FROM stats0),
          |stats AS (SELECT tok, mean6,
          |                 CASE WHEN (s0 + 1) * (s0 + 1) <= var12 THEN s0 + 1
          |                      WHEN s0 * s0 > var12 THEN s0 - 1
          |                      ELSE s0 END AS sigma6
          |          FROM (SELECT *, CAST(floor(sqrt(CAST(var12 AS DOUBLE))) AS BIGINT) AS s0
          |                FROM stats1) q),
          |z AS (SELECT source, dense.tok,
          |             CASE WHEN sigma6 = 0 THEN 0
          |                  ELSE ((f6 - mean6) * 1000000) // sigma6 END AS z6
          |      FROM dense JOIN stats ON dense.tok = stats.tok)
          |SELECT a.source AS source_a, b.source AS source_b,
          |       CAST(SUM(abs(a.z6 - b.z6)) // 50 AS BIGINT) AS delta6,
          |       CAST(CAST(SUM(abs(a.z6 - b.z6)) // 50 AS BIGINT) AS DOUBLE) / 1000000.0
          |         AS delta
          |FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
          |GROUP BY a.source, b.source ORDER BY source_a, source_b""".stripMargin)),

    // ---- Yule's characteristic K per source (added r9) --------------------
    // The classic repeat-rate lexical-diversity constant (Yule 1944):
    // K = 10⁴·(Σc² − N)/N² over the source's token frequency spectrum —
    // scale-INVARIANT where raw TTR collapses with corpus size (that's the
    // point: K is comparable across sources of different volume, the flaw
    // sttr_diversity fixes by segmenting and vocab_richness by
    // extrapolating). High K = a few tokens dominate (templated/repetitive
    // prose), low K = even spread. The third leg of the diversity triad:
    // simpson_diversity is the probability form (K ≈ 10⁴·Simpson-D for
    // large N), token_entropy the information form, K the classical
    // stylometry constant reviewers recognize.
    //
    // ENGINE-VERSION-PROOF: Σc² through DECIMAL(38,0)/HUGEINT (int64 would
    // overflow at 100 TB source sizes), the reported K ONE bare division
    // of exact integers scaled by 10⁴ in the numerator.
    //
    // Scale shape: one (source, tok) hash agg with map-side combine, then
    // a ≤|sources| roll-up — the simpson_diversity plan exactly.
    "yule_k" -> Q(
      fn = (s, dir) => {
        val big = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        val tc = Tables.load(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        tc.groupBy("source")
          .agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
            sum(big(col("c")) * big(col("c"))).as("s2"))
          .select(col("source"), col("n").as("n_tokens"), col("v").as("n_types"),
            when(col("n") < 2, lit(null).cast("double"))
              .otherwise((big(lit(10000L)) * (col("s2") - big(col("n")))).cast("double")
                / (big(col("n")) * big(col("n"))).cast("double"))
              .as("yule_k"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH tc AS (
          |  SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents),
          |f AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
          |      FROM tc GROUP BY source, tok),
          |m AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
          |             CAST(COUNT(*) AS BIGINT) AS v,
          |             SUM(CAST(c AS HUGEINT) * c) AS s2
          |      FROM f GROUP BY source)
          |SELECT source, n AS n_tokens, v AS n_types,
          |       CASE WHEN n < 2 THEN NULL
          |            ELSE CAST(10000 * (s2 - n) AS DOUBLE)
          |                 / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) END AS yule_k
          |FROM m ORDER BY source""".stripMargin)),

    // ---- segmental type-token ratio per source (added r9) -----------------
    // STTR (the MATTR/standardized-TTR family): each document split into
    // consecutive FULL 50-token segments, TTR = distinct/50 per segment,
    // averaged per source over segment COUNT — the length-bias-free
    // lexical-diversity number (raw TTR of a long doc is incomparably
    // lower than a short one's; fixing the window removes the bias, the
    // same reason MTLD/MATTR exist). Complements yule_k (frequency-
    // spectrum view) with the positional view: a doc that cycles the same
    // 20 tokens shows low STTR even when corpus-level K looks healthy.
    //
    // All-integer surface: segment distinct counts are exact ints
    // (array_distinct over a fixed slice — map-side, no shuffle), the
    // source mean is ONE bare division Σdistinct/(50·nseg); docs shorter
    // than one full segment are excluded by definition (n div 50 = 0).
    //
    // Scale shape: segments generate map-side (sequence + slice — the
    // chunk_documents idiom), collapse immediately into the per-(doc)
    // projection, and the only shuffle is the ≤|sources| roll-up.
    "sttr_diversity" -> Q(
      fn = (s, dir) => {
        val segs = Tables.load(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .filter(size(col("toks")) >= 50)
          .select(col("source"),
            explode(expr("sequence(0, size(toks) div 50 - 1)")).as("i"),
            col("toks"))
          .select(col("source"),
            expr("size(array_distinct(slice(toks, int(i * 50 + 1), 50)))")
              .cast("long").as("d"))
        segs.groupBy("source")
          .agg(count(lit(1)).as("n_segments"), sum(col("d")).as("sum_distinct"))
          .select(col("source"), col("n_segments"), col("sum_distinct"),
            (col("sum_distinct").cast("double")
              / (col("n_segments") * 50L).cast("double")).as("sttr"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
          |f AS (SELECT source, toks FROM t WHERE len(toks) >= 50),
          |g AS (SELECT source, UNNEST(range(len(toks) // 50)) AS i, toks FROM f),
          |seg AS (SELECT source,
          |               CAST(len(list_distinct(toks[i * 50 + 1 : i * 50 + 50]))
          |                    AS BIGINT) AS d
          |        FROM g)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments,
          |       CAST(SUM(d) AS BIGINT) AS sum_distinct,
          |       CAST(SUM(d) AS DOUBLE) / CAST(COUNT(*) * 50 AS DOUBLE) AS sttr
          |FROM seg GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Flesch reading-ease profile per source (added r9) ----------------
    // The standard readability score, syllables proxied by vowel-group
    // runs ([aeiouy]+ — the classic cheap estimator) and sentences by
    // terminal punctuation with a floor of 1 (this synthetic corpus has
    // no punctuation, so every doc reads as one sentence — the operator's
    // semantics are corpus-independent and the punctuation path is
    // exercised by the spec's fixture, the auc_dup_quality label-choice
    // precedent). FK = 206.835 − 1.015·(W/S) − 84.6·(Syl/W), computed
    // per doc ENTIRELY in integers on the common denominator S·W:
    //   score6 = (206835000·S·W − 1015000·W² − 84600000·Syl·S) div (S·W)
    // (trunc-toward-zero 6 dp grid — Spark `div` ≡ DuckDB `//` on
    // negatives too, so very long "sentences" that push FK negative stay
    // bit-identical). Per-source mean is ONE bare division of the exact
    // score6 sum; min/max are integer order statistics.
    //
    // Scale shape: map-only per-doc projection (two regexp counts + one
    // split size) → ≤|sources| hash agg. Scan-speed at any corpus size.
    "readability_fk" -> Q(
      fn = (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("w"),
            expr("cast(regexp_count(text, '[aeiouy]+') as bigint)").as("syl"),
            greatest(expr("cast(regexp_count(text, '[.!?]') as bigint)"), lit(1L))
              .as("sent"))
          .filter(col("w") >= 1)
          // numerator widened to DECIMAL(38,0) (oracle: HUGEINT): the
          // 1015000·w² term overflows int64 at w ≥ ~3M tokens, and Spark
          // (non-ANSI) would wrap silently while DuckDB raises — the
          // acf_lags/yule_k widening discipline; score6 itself fits int64
          .withColumn("score6",
            expr("""cast((206835000L * cast(sent as decimal(38,0)) * w
                    | - 1015000L * cast(w as decimal(38,0)) * w
                    | - 84600000L * cast(syl as decimal(38,0)) * sent)
                    | div (sent * w) as bigint)""".stripMargin))
        d.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("score6")).as("sum6"),
            min(col("score6")).as("min_score6"), max(col("score6")).as("max_score6"))
          .select(col("source"), col("n_docs"),
            col("min_score6"), col("max_score6"),
            (col("sum6").cast("double")
              / (col("n_docs") * 1000000L).cast("double")).as("mean_fk"))
          .orderBy("source")
      },
      oracle = Some(
        """WITH d AS (
          |  SELECT source,
          |         CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
          |         CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS syl,
          |         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT), 1)
          |           AS sent
          |  FROM documents),
          |sc AS (
          |  SELECT source,
          |         CAST((206835000 * CAST(sent AS HUGEINT) * w
          |               - 1015000 * CAST(w AS HUGEINT) * w
          |               - 84600000 * CAST(syl AS HUGEINT) * sent)
          |              // (sent * w) AS BIGINT) AS score6
          |  FROM d WHERE w >= 1)
          |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          |       CAST(MIN(score6) AS BIGINT) AS min_score6,
          |       CAST(MAX(score6) AS BIGINT) AS max_score6,
          |       CAST(SUM(score6) AS DOUBLE)
          |         / CAST(COUNT(*) * 1000000 AS DOUBLE) AS mean_fk
          |FROM sc GROUP BY source ORDER BY source""".stripMargin)),

    // ---- near-dup graph degree profile (added r9) --------------------------
    // The degree distribution of the verified MinHash near-dup pair graph —
    // the STRUCTURE audit between pairs and clusters: dup_cluster_profile
    // histograms component SIZES, this histograms per-document DEGREE.
    // The two differ exactly when clusters are non-cliques (a chain of
    // borderline pairs vs a template clique), which is the transitivity
    // question a dedup threshold review asks: high max-degree hubs are
    // templates (safe to collapse), long low-degree chains are
    // threshold-sensitive (keep-one deletes non-duplicates). Pairs come
    // from the SAME gated pipeline as dedup_minhash_lsh (oracle nests the
    // shared CTE text) — spec pins Σ degree = 2·|pairs| exactly.
    //
    // Scale shape: the shared banded candidate pipeline (never all-pairs)
    // → one doc-keyed degree agg (each pair contributes to two docs via a
    // map-side union) → a ≤max-degree histogram agg; the isolated-doc row
    // (degree 0) comes from one 1-row corpus-count broadcast.
    "dup_degree_profile" -> Q(
      fn = (s, dir) => {
        // r16: the pair pipeline (band self-join → distinct → two shingle-
        // carrier verify joins) fed four plan branches (deg's union ×2,
        // hist, touched) and re-executed per branch above the shingle cache
        // (ReuseCheck: 34 parquet scans, 0 reused exchanges). Materialize
        // the verified pairs ONCE, then the shingle cache can drop.
        val (pairsRaw, shCache) = minhashPairsWithHandle(s, dir)
        val pairs = Q.truncate(pairsRaw.select(col("a_id"), col("b_id")))
        shCache.unpersist()
        val deg = pairs.select(col("a_id").as("doc_id"))
          .unionAll(pairs.select(col("b_id").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("degree"))
        val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_docs"))
        val tot = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n_corpus"))
        val touched = deg.agg(count(lit(1)).as("n_touched"))
        val zero = tot.crossJoin(touched)
          .select(lit(0L).as("degree"), (col("n_corpus") - col("n_touched")).as("n_docs"))
          .filter(col("n_docs") > 0)
        hist.unionAll(zero).orderBy("degree")
      },
      oracle = Some(
        s"""WITH $minhashPairsSqlCtes,
           |deg AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
           |    SELECT a_id AS doc_id FROM pairs
           |    UNION ALL
           |    SELECT b_id FROM pairs) u
           |  GROUP BY doc_id),
           |hist AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
           |         FROM deg GROUP BY degree),
           |zero AS (
           |  SELECT CAST(0 AS BIGINT) AS degree,
           |         (SELECT COUNT(*) FROM documents)
           |           - (SELECT COUNT(*) FROM deg) AS n_docs)
           |SELECT degree, n_docs FROM hist
           |UNION ALL
           |SELECT degree, n_docs FROM zero WHERE n_docs > 0
           |ORDER BY degree""".stripMargin))
  )
}
