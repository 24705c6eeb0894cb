package graft.llm

import graft.{Q, T}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

/** Data-curation operators a production pretraining pipeline runs between
  * raw crawl and tokenization — the selection/scoring layer that sits on
  * top of the dedup surface ([[Dedup]]) and the quality rules
  * (q21–q23/q95/q96):
  *
  *   - q144 DSIR importance weights (Xie et al. 2023, "Data Selection for
  *     Language Models via Importance Resampling"): per-token
  *     target/raw likelihood ratios aggregated per document;
  *   - q145 SemDeDup (Abbas et al. 2023): cluster embeddings with the
  *     q120 argmin kernel, then drop within-cluster semantic duplicates
  *     above a cosine threshold;
  *   - q146 bigram-LM continuation score: the cheap perplexity proxy a
  *     pipeline uses before it can afford a real LM pass (KenLM-style
  *     filtering à la CCNet, Wenzek et al. 2020), with no float log —
  *     continuation probabilities stay in exact integer ppm space;
  *   - q147 hard-negative mining: per-anchor cross-label cosine top-k,
  *     the contrastive-pair generation step (SimCSE/DPR style).
  *
  * All four are oracle-checked. Determinism follows Q.scala: counts and
  * ratios live in BIGINT ppm space (integer division floors identically
  * in Spark `div` and DuckDB `//` for the nonnegative operands here);
  * the one float output (q147 cosine) is `round(_, 4)` in both engines,
  * the same contract q28 proves green. */
object Curation {

  /** Tokens exactly as the corpus-stats queries (q95/q99/q110) see them:
    * whitespace split, empties dropped IN ARRAY SPACE so positional
    * queries keep contiguous positions. */
  private def tokens(s: org.apache.spark.sql.SparkSession, dir: String) =
    T(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))

  /** q144: DSIR-style importance weights. Target distribution = the
    * `lang = 'en'` slice, raw = the whole corpus; per-token weight is the
    * add-one-smoothed likelihood ratio in exact integer ppm,
    *
    *   w(t) = floor( (n_tgt+1)(raw_total+V) * 10^6
    *               / ((n_raw+1)(tgt_total+V)) ),
    *
    * and a document's score is the sum of w over its token OCCURRENCES
    * (the unigram-product log-likelihood ratio, kept in ratio space so no
    * float ln enters the compare — same no-log trick as q140's TVD).
    *
    * Scale shape: token stats are one map-combinable groupBy (the shuffle
    * carries (token, partial n_raw, partial n_tgt)); the totals row is a
    * broadcast single-row cross join; the weight table is vocabulary-sized
    * and broadcast into a map-side join against the token stream — the
    * doc-score aggregation is the only corpus-sized shuffle and it carries
    * (doc_id, partial sums). At 100 TB the paper's trick applies verbatim:
    * hash tokens into 2^16 buckets map-side and the weight table stays
    * broadcastable no matter the vocabulary. Products are bounded by
    * (max token count)·(corpus tokens)·10^6 « 2^63 for any corpus that
    * fits an exabyte. */
  private val q144 = Q(
    "q144_dsir_weights",
    (s, dir) => {
      val toks = tokens(s, dir)
      val stats = toks.groupBy(col("token")).agg(
        count(lit(1)).as("n_raw"),
        count(when(col("lang") === "en", 1)).as("n_tgt"))
      val totals = stats.agg(
        sum(col("n_raw")).as("raw_total"),
        sum(col("n_tgt")).as("tgt_total"),
        count(lit(1)).as("vocab"))
      val weights = stats.crossJoin(broadcast(totals))
        .select(col("token"),
          expr("((n_tgt + 1) * (raw_total + vocab) * 1000000L) div ((n_raw + 1) * (tgt_total + vocab))")
            .as("w_ppm"))
      toks.join(broadcast(weights), "token")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("w_ppm")).as("score"))
        .select(col("doc_id"), col("n_tok"), col("score"),
          expr("score div n_tok").as("avg_ppm"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some("""WITH t AS (SELECT doc_id, lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
             FROM documents),
      s AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_raw,
                   CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS n_tgt
            FROM t GROUP BY token),
      tot AS (SELECT CAST(SUM(n_raw) AS BIGINT) AS raw_total,
                     CAST(SUM(n_tgt) AS BIGINT) AS tgt_total,
                     CAST(COUNT(*) AS BIGINT) AS vocab FROM s),
      w AS (SELECT token,
              CAST(((n_tgt + 1) * (raw_total + vocab) * 1000000)
                   // ((n_raw + 1) * (tgt_total + vocab)) AS BIGINT) AS w_ppm
            FROM s, tot)
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(w.w_ppm) AS BIGINT) AS score,
             CAST(SUM(w.w_ppm) // COUNT(*) AS BIGINT) AS avg_ppm
      FROM t JOIN w USING (token)
      GROUP BY t.doc_id ORDER BY doc_id ASC NULLS FIRST"""),
    "DSIR importance weights: smoothed target/raw token likelihood ratios in integer ppm, summed per doc (data-selection surface)")

  /** q145: SemDeDup — semantic dedup over embeddings. Stage 1 reuses the
    * q120 assignment kernel verbatim (quantize to floor(x·10⁶) BIGINTs,
    * argmin over 8 broadcast centroids via the packed d2·8+cid min).
    * Stage 2 self-joins WITHIN clusters only (the paper's point: k-means
    * first makes the quadratic step per-cluster, not corpus-wide) and
    * drops any vector with a smaller-id neighbor at cosine ≥ τ.
    *
    * The threshold compare is integer-EXACT, no float cosine anywhere:
    * cos ≥ τ = 2/5  ⟺  dot > 0 ∧ 25·dot² ≥ 4·‖a‖²·‖b‖², evaluated in
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — dot ≤ 64·(1.2·10⁶)² ≈
    * 9·10¹³ so dot² ≈ 8·10²⁷ needs 128-bit space but stays exact. τ is
    * 0.4 here because the synthetic embeddings are near-orthogonal
    * (max cosine ≈ 0.5); production runs ≈ 0.95 — same plan either way,
    * and CurationSpec plants true near-dup vectors to prove the drop
    * logic at high τ.
    *
    * Scale shape: centroids broadcast; the only corpus shuffles carry
    * (vec_id, packed argmin) and the cluster-keyed pair join — quadratic
    * per cluster by design (that is SemDeDup's contract), bounded by the
    * same hot-bucket cap pattern as [[Dedup]] if a cluster ever runs hot. */
  /** The SemDeDup kernel, τ = tauNum/tauDen (a rational so the threshold
    * compare stays integer-exact: cos ≥ τ ⟺ dot > 0 ∧ tauDen²·dot² ≥
    * tauNum²·‖a‖²·‖b‖², all in DECIMAL(38,0) — ≤ ~10³¹ for 64-dim unit-ish
    * vectors, exact). Input columns (vec_id: long, v: array<double>);
    * centroids are the vec_id < 8 rows (the q120 deterministic seed rule);
    * output (vec_id, cid, keep). */
  def semDedup(emb: org.apache.spark.sql.DataFrame, tauNum: Long, tauDen: Long): org.apache.spark.sql.DataFrame = {
    val qv = emb.select(col("vec_id"),
      expr("transform(v, x -> CAST(floor(x * 1e6) AS BIGINT))").as("q"))
    val cents = qv.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("cq"))
    val assigned = qv.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("q"), col("cid"),
        expr("aggregate(zip_with(q, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
          .as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(col("d2") * lit(8L) + col("cid")).as("mc"), first(col("q")).as("q"))
      .select(col("vec_id"), pmod(col("mc"), lit(8L)).as("cid"), col("q"))
    val left = assigned.select(col("vec_id").as("va"), col("cid"), col("q").as("qa"))
    val right = assigned.select(col("vec_id").as("vb"), col("cid"), col("q").as("qb"))
    val n2 = tauNum * tauNum
    val d2 = tauDen * tauDen
    val dropped = left.join(right, "cid")
      .filter(col("vb") < col("va"))
      .select(col("va"),
        expr("aggregate(zip_with(qa, qb, (a, b) -> a * b), 0L, (acc, x) -> acc + x)").as("dot"),
        expr("aggregate(qa, 0L, (acc, x) -> acc + x * x)").as("na"),
        expr("aggregate(qb, 0L, (acc, x) -> acc + x * x)").as("nb"))
      .filter(col("dot") > 0 &&
        expr(s"CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0)) * $d2 >= " +
          s"CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0)) * $n2"))
      .select(col("va")).distinct().withColumn("isdup", lit(1L))
    assigned.join(dropped, assigned("vec_id") === dropped("va"), "left")
      .select(assigned("vec_id"), col("cid"),
        when(col("isdup").isNull, 1L).otherwise(0L).as("keep"))
      .orderBy(asc_nulls_first("vec_id"))
  }

  private val q145 = Q(
    "q145_semdedup",
    (s, dir) => semDedup(
      T(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v")),
      tauNum = 2L, tauDen = 5L),
    Some("""WITH q AS (SELECT vec_id,
               [CAST(floor(x * 1e6) AS BIGINT) FOR x IN CAST(embedding AS DOUBLE[])] AS qs
             FROM embeddings),
      c AS (SELECT vec_id AS cid, qs AS cq FROM q WHERE vec_id < 8),
      d AS (SELECT q.vec_id, c.cid,
              CAST(list_sum([x * x FOR x IN list_transform(list_zip(q.qs, c.cq),
                p -> p[1] - p[2])]) AS BIGINT) AS d2
            FROM q CROSS JOIN c),
      a AS (SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
            FROM d),
      m AS (SELECT a.vec_id, a.cid, q.qs FROM a JOIN q USING (vec_id) WHERE rn = 1),
      p AS (SELECT x.vec_id AS va,
              CAST(list_sum([pr[1] * pr[2] FOR pr IN list_zip(x.qs, y.qs)]) AS BIGINT) AS dot,
              CAST(list_sum([t * t FOR t IN x.qs]) AS BIGINT) AS na,
              CAST(list_sum([t * t FOR t IN y.qs]) AS BIGINT) AS nb
            FROM m x JOIN m y ON x.cid = y.cid AND y.vec_id < x.vec_id),
      dr AS (SELECT DISTINCT va FROM p WHERE dot > 0
               AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * 25
                   >= CAST(na AS HUGEINT) * CAST(nb AS HUGEINT) * 4)
      SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cid,
             CAST(CASE WHEN dr.va IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM m LEFT JOIN dr ON m.vec_id = dr.va
      ORDER BY vec_id ASC NULLS FIRST"""),
    "SemDeDup: q120-kernel cluster assign, within-cluster integer-exact cosine-threshold drop (semantic-dedup surface)")

  /** q146: bigram-LM continuation score — the perplexity proxy. Corpus
    * bigram counts c(w1,w2) and head counts c(w1) = Σ_w2 c(w1,w2) give a
    * per-occurrence continuation probability floor(10⁶·c2/c1); a doc's
    * score is the sum over its bigram occurrences and avg_ppm the integer
    * mean — degenerate repeated text scores near 10⁶, incoherent
    * token-salad scores low, which is exactly the CCNet keep/drop axis,
    * with every number exact (no log, no float).
    *
    * Scale shape: bigram extraction is MAP-SIDE — adjacent pairs come
    * straight out of the token array (no per-doc window, no exchange
    * before the first aggregate); the counts shuffle carries (w1, w2,
    * partial) map-combined; the weight table is vocab²-bounded and
    * broadcast (hash-bucket it at an open vocabulary, as in q144); the
    * doc-score shuffle carries partial sums only. */
  /** The q146 score frame — (doc_id, n_bigrams, score, avg_ppm), unsorted
    * (q151 composes it; q146 adds the presentation sort). */
  /** Adjacent token pairs in ONE tight Scala pass. The Catalyst form
    * (filter HOF → transform(sequence) building 26.6 M structs) runs
    * interpreted — HigherOrderFunctions are CodegenFallback — and the
    * sf10 profile charged 14–17 s PER PASS to it (SCALE.md); the
    * q163/modPGrams lesson again: one Scala loop per
    * row beats a generated-expression explode. Pair content identical:
    * tokens are maximal non-space runs, pairs (ws[i−1], ws[i]). */
  private[llm] val bigramPairsUdf = udf((text: String) => {
    if (text == null) Array.empty[(String, String)]
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var prev: String = null
      var i = 0
      val n = text.length
      while (i < n) {
        if (text.charAt(i) != ' ') {
          var j = i
          while (j < n && text.charAt(j) != ' ') j += 1
          val tok = text.substring(i, j)
          if (prev != null) out += ((prev, tok))
          prev = tok
          i = j
        } else i += 1
      }
      out.toArray
    }
  })

  def bigramScores(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
      val bigrams = T(s, dir, "documents")
        .select(col("doc_id"), explode(bigramPairsUdf(col("text"))).as("b"))
        .select(col("doc_id"), col("b._1").as("w1"), col("b._2").as("w2"))
      // vocab²-bounded (93 k pairs at sf10) and consumed TWICE (cnt1
      // derivation + the weights join) — without the checkpoint each
      // consumer re-ran the whole 26.6 M-row explode (sf10 profile:
      // ~3 explode passes ≈ 45 of the query's 50 s)
      // lazy checkpoint: materializes on FIRST action and is then reused
      // by both consumers — the eager form ran the 26.6 M-row explode at
      // frame-CONSTRUCTION time (plan inspection, registry enumeration)
      val cnt2 = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .localCheckpoint(false)
      val cnt1 = cnt2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val weights = cnt2.join(cnt1, "w1")
        .select(col("w1"), col("w2"), expr("(1000000L * c2) div c1").as("ppm"))
      bigrams.join(broadcast(weights), Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("ppm")).as("score"))
        .select(col("doc_id"), col("n_bigrams"), col("score"),
          expr("score div n_bigrams").as("avg_ppm"))
  }

  private val q146 = Q(
    "q146_bigram_lm",
    (s, dir) => bigramScores(s, dir).orderBy(asc_nulls_first("doc_id")),
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
             FROM documents),
      t AS (SELECT doc_id, unnest(ws) AS w,
                   unnest(generate_series(1, len(ws))) AS pos FROM toks),
      b AS (SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM t),
      bb AS (SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL),
      cnt2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bb GROUP BY w1, w2),
      cnt1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY w1),
      wt AS (SELECT cnt2.w1, cnt2.w2,
                    CAST((1000000 * c2) // c1 AS BIGINT) AS ppm
             FROM cnt2 JOIN cnt1 USING (w1))
      SELECT bb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(ppm) AS BIGINT) AS score,
             CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS avg_ppm
      FROM bb JOIN wt ON bb.w1 = wt.w1 AND bb.w2 = wt.w2
      GROUP BY bb.doc_id ORDER BY doc_id ASC NULLS FIRST"""),
    "bigram continuation score in integer ppm: the no-log perplexity proxy for quality filtering (CCNet-style surface)")

  /** q147: hard-negative mining for contrastive training — for each
    * anchor (a deterministic 10% slice, vec_id ≡ 0 mod 10), the top-5
    * most-similar vectors with a DIFFERENT label: the "looks close,
    * means different" pairs DPR/SimCSE batches are built from. Cosine and
    * ranking follow the q28 contract exactly (round to 4 dp, vid
    * tie-break) via the native codegen [[VecDot]] kernel.
    *
    * Scale shape: anchors are a capped broadcast; candidates stream
    * map-only through a per-partition scoring kernel that reduces each
    * partition to ≤ 5 rows per anchor (per-anchor top-5 heaps), so the
    * single exchange carries 5·anchors·partitions rows — never the
    * Θ(n²/10) pair set, which is the query's irreducible dot-product
    * count but must not become its shuffle volume. At 100 TB you feed
    * anchors through the IVF index (q31) for candidate pruning instead
    * of the scan — this query pins the exact semantics that
    * approximation must match. */
  private val q147 = Q(
    "q147_hard_negatives",
    (s, dir) => {
      // r13: the r12 shape (BroadcastNestedLoopJoin → per-pair row →
      // window top-5) materialized and SHUFFLED one row per (anchor,
      // candidate) pair — 4·10⁹ rows at sf10, 917 s, and the pair count
      // is quadratic by the query's own declared semantics (anchors are
      // a fixed FRACTION of n, so exact mining is Θ(n²/10) dot products
      // — that part is irreducible while staying exact). What is NOT
      // irreducible is paying a row + exchange per pair: the anchors now
      // ride a broadcast into a per-partition scoring kernel that keeps a
      // top-5 heap PER ANCHOR ordered by (rounded score desc, vid asc)
      // — the window's exact contract — and emits only heap survivors
      // (≤ 5·anchors per partition), so the exchange carries
      // 5·anchors·partitions rows instead of n²/10. mapPartitions is
      // justified here (SURVEY preference (d)): no relational operator
      // expresses "all-pairs reduce without materializing the pairs".
      // Exactness: per-partition top-5 then global top-5 over partials
      // is the global top-5 for any total order; scores are rounded
      // IN-KERNEL with Round's exact arithmetic (BigDecimal.valueOf →
      // HALF_UP, what round(col, 4) compiles to), and the heap admission
      // test `raw > worst − 1e-4` is lossless since rounding moves a
      // value by ≤ 5·10⁻⁵ + ulps.
      val e = T.spread(s, T(s, dir, "embeddings"))
        .select(col("vec_id"), col("label").cast("int").as("label"),
          col("embedding").cast(ArrayType(DoubleType)).as("v"))
      // anchor collect is n/10-sized and capped LOUDLY (Manifest's rule):
      // past the cap, route anchors through the IVF index (q31/q193)
      // instead of exact mining
      val cap = 1000000
      val aRows = e.filter(pmod(col("vec_id"), lit(10L)) === 0)
        .limit(cap + 1).collect()
      require(aRows.length <= cap,
        s"q147 anchor set exceeds $cap vectors — exact all-pairs mining is " +
          "the wrong tool at this scale: route anchors through the IVF " +
          "index (q31/q193) for candidate pruning")
      val nA = aRows.length
      val aId = new Array[Long](nA); val aLab = new Array[Int](nA)
      val aVec = new Array[Array[Double]](nA); val aNorm = new Array[Double](nA)
      var ai = 0
      while (ai < nA) {
        val r = aRows(ai)
        aId(ai) = r.getLong(0); aLab(ai) = r.getInt(1)
        val v = r.getSeq[Double](2).toArray
        aVec(ai) = v
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * v(i); i += 1 }
        aNorm(ai) = math.sqrt(d)
        ai += 1
      }
      val bc = s.sparkContext.broadcast((aId, aLab, aVec, aNorm))
      import s.implicits._
      val partials = e.as[(Long, Int, Array[Double])]
        .mapPartitions { it =>
          val (id, lb, vec, nrm) = bc.value
          val n = id.length
          val ts = new Array[Double](n * 5) // rounded scores, best-first
          val tv = new Array[Long](n * 5)
          val tn = new Array[Int](n)
          while (it.hasNext) {
            val (vid, lab, v) = it.next()
            var d = 0.0; var i = 0
            while (i < v.length) { d += v(i) * v(i); i += 1 }
            val cn = math.sqrt(d)
            var a = 0
            while (a < n) {
              if (lb(a) != lab) {
                val av = vec(a)
                var dot = 0.0; var j = 0
                val m = math.min(av.length, v.length)
                while (j < m) { dot += av(j) * v(j); j += 1 }
                val raw = dot / (nrm(a) * cn)
                val base = a * 5; val cnt = tn(a)
                if (cnt < 5 || raw > ts(base + cnt - 1) - 1e-4) {
                  val rs = java.math.BigDecimal.valueOf(raw)
                    .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
                  // admit iff (rs desc, vid asc) beats the current worst
                  if (cnt < 5 || rs > ts(base + cnt - 1) ||
                      (rs == ts(base + cnt - 1) && vid < tv(base + cnt - 1))) {
                    var p = 0
                    while (p < cnt && (ts(base + p) > rs ||
                        (ts(base + p) == rs && tv(base + p) < vid))) p += 1
                    var q = math.min(cnt, 4)
                    while (q > p) {
                      ts(base + q) = ts(base + q - 1); tv(base + q) = tv(base + q - 1)
                      q -= 1
                    }
                    ts(base + p) = rs; tv(base + p) = vid
                    if (cnt < 5) tn(a) = cnt + 1
                  }
                }
              }
              a += 1
            }
          }
          (0 until n).iterator.flatMap { a =>
            (0 until tn(a)).iterator.map(p => (id(a), tv(a * 5 + p), ts(a * 5 + p)))
          }
        }
        .toDF("qid", "vid", "score")
      val w = Window.partitionBy(col("qid"))
        .orderBy(desc_nulls_last("score"), asc_nulls_first("vid"))
      partials.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5).drop("rn")
        .orderBy(asc_nulls_first("qid"), asc_nulls_first("vid"))
    },
    Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      s AS (SELECT q.vec_id AS qid, c.vec_id AS vid,
                   round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 4) AS score
            FROM n q JOIN n c ON q.label <> c.label
            WHERE q.vec_id % 10 = 0),
      r AS (SELECT qid, vid, score,
                   row_number() OVER (PARTITION BY qid
                     ORDER BY score DESC NULLS LAST, vid ASC NULLS FIRST) AS rn
            FROM s)
      SELECT qid, vid, score FROM r WHERE rn <= 5
      ORDER BY qid ASC NULLS FIRST, vid ASC NULLS FIRST"""),
    "hard-negative mining: per-anchor cross-label cosine top-5, q28 ranking contract (contrastive-pair surface)")

  /** q149: cross-source overlap matrix — for every source pair, how much
    * of the smaller source's distinct 3-shingle set also appears in the
    * other (containment in basis points). The corpus-INTERNAL audit that
    * catches mirrored crawls / syndicated boilerplate before dedup
    * (q103 is the corpus-vs-benchmark sibling; this is corpus-vs-itself
    * per source).
    *
    * Scale shape: shingles extract map-side (q146's array pattern), then
    * ONE corpus shuffle — groupBy(shingle) collecting the source set
    * (bounded by #sources per key) — feeds both per-source set sizes and
    * the pair counts: ordered pairs expand MAP-SIDE from the sorted
    * source set (≤ C(#sources,2) per shingle), so there is no distinct
    * pass and no shingle-keyed self-join (the naive two-shuffle shape).
    * The grouped frame is localCheckpoint'd once for its two consumers —
    * AQE-replanned subtrees never hit ReusedExchange. At 100 TB swap the
    * raw shingle string for its xxhash64 as the grouping key (q116's
    * fingerprint trick) and nothing else changes. */
  private val q149 = Q(
    "q149_source_overlap",
    (s, dir) => {
      val grouped = T.spread(s, T(s, dir, "documents"))
        .select(col("source"), expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
        .select(col("source"), explode(expr(
          "CASE WHEN size(ws) >= 3 THEN transform(sequence(2, size(ws) - 1), " +
            "i -> concat_ws(' ', ws[i - 2], ws[i - 1], ws[i])) ELSE array() END"))
          .as("sh"))
        .groupBy(col("sh")).agg(expr("array_sort(collect_set(source))").as("srcs"))
        .localCheckpoint(false)
      val sizes = grouped.select(explode(col("srcs")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      val shared = grouped.filter(size(col("srcs")) >= 2)
        .select(explode(expr(
          "flatten(transform(sequence(0, size(srcs) - 2), " +
            "i -> transform(sequence(i + 1, size(srcs) - 1), " +
            "j -> struct(element_at(srcs, i + 1) AS src_a, element_at(srcs, j + 1) AS src_b))))"))
          .as("p"))
        .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
        .agg(count(lit(1)).as("shared"))
      shared
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("shared"), col("n_a"), col("n_b"),
          expr("(10000 * shared) div least(n_a, n_b)").as("containment_bp"))
        .orderBy(asc_nulls_first("src_a"), asc_nulls_first("src_b"))
    },
    Some("""WITH toks AS (SELECT source, doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
             FROM documents),
      t AS (SELECT source, doc_id, unnest(ws) AS w,
                   unnest(generate_series(1, len(ws))) AS pos FROM toks),
      g AS (SELECT source, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                   lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
            FROM t),
      sh AS (SELECT DISTINCT source, w1 || ' ' || w2 || ' ' || w3 AS sh
             FROM g WHERE w3 IS NOT NULL),
      sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY source),
      p AS (SELECT a.source AS src_a, b.source AS src_b,
                   CAST(COUNT(*) AS BIGINT) AS shared
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
            GROUP BY 1, 2)
      SELECT p.src_a, p.src_b, p.shared, sa.n AS n_a, sb.n AS n_b,
             CAST((10000 * p.shared) // least(sa.n, sb.n) AS BIGINT) AS containment_bp
      FROM p JOIN sz sa ON p.src_a = sa.source
             JOIN sz sb ON p.src_b = sb.source
      ORDER BY src_a ASC NULLS FIRST, src_b ASC NULLS FIRST"""),
    "cross-source 3-shingle containment matrix in bp: the corpus-internal mirror/syndication audit (q103's internal sibling)")

  /** q150: temperature-scaled source mixing (the T5/mT5/XLM-R α-sampling
    * rule, α = 1/2): sampling rate per source ∝ n_s^α, flattening the
    * source distribution so giant crawls don't drown small curated sets.
    * √n is quantized floor(√n·10⁶) BEFORE the normalization sum — IEEE
    * sqrt is correctly rounded so both engines floor the same double, and
    * from there every number (rates in bp, allocation of a 10⁶-doc
    * budget) is exact integer arithmetic.
    *
    * Scale shape: one map-combinable groupBy(source) over the scan, a
    * source-cardinality frame ever after (totals broadcast as one row).
    * The allocation column is what q134's token-budget solver consumes
    * as its per-source target at 100 TB. */
  private val q150 = Q(
    "q150_temperature_mixing",
    (s, dir) => {
      val counts = T(s, dir, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("sqrt_micro",
          floor(sqrt(col("n_docs").cast(DoubleType)) * 1e6).cast(LongType))
      val totals = counts.agg(sum(col("sqrt_micro")).as("z"))
      counts.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"), col("sqrt_micro"),
          expr("(10000 * sqrt_micro) div z").as("rate_bp"),
          expr("(1000000 * sqrt_micro) div z").as("alloc_1m"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source),
      q AS (SELECT source, n_docs,
              CAST(floor(sqrt(n_docs) * 1e6) AS BIGINT) AS sqrt_micro FROM c),
      z AS (SELECT CAST(SUM(sqrt_micro) AS BIGINT) AS z FROM q)
      SELECT source, n_docs, sqrt_micro,
             CAST((10000 * sqrt_micro) // z AS BIGINT) AS rate_bp,
             CAST((1000000 * sqrt_micro) // z AS BIGINT) AS alloc_1m
      FROM q, z ORDER BY source ASC NULLS FIRST"""),
    "temperature-scaled source mixing rates (alpha=0.5), integer-exact from quantized sqrt (T5-style sampling surface)")

  /** q151: curriculum training order — easy-first data ordering
    * (Bengio et al. 2009 applied to LM pretraining): docs are banded by
    * the DECILES of their q146 quality score (q141's frozen rank-boundary
    * technique — the value at row (k·n) div 10, doc_id tie-break), then
    * ordered highest-quality band first with a reproducible shuffle
    * WITHIN each band (q112's Knuth-hash order), and the global position
    * materializes via q112's two-level trick: a (band, hash-range) bucket
    * id, per-bucket distributed row_number, plus a broadcast prefix-sum
    * of the ~640 bucket counts — the total order is (phase asc, h asc,
    * doc_id asc) with NO single-partition data window.
    *
    * Scale shape: the score frame is q146's (already audited); the decile
    * pass is the one exact-percentile window (q141's documented cost —
    * q76's sketch is the approx sibling); banding is a map-side array
    * filter against a broadcast 9-element threshold list; positions add
    * one bucket-keyed shuffle. */
  private val q151 = Q(
    "q151_curriculum_order",
    (s, dir) => {
      // materialized once (q149's localCheckpoint rule): the bigram-score
      // frame is the expensive input and has THREE consumers below (the
      // decile ranking, the banding cross-join, and through `banded` the
      // offsets + position join). Plan-level reuse held at sf1 but broke
      // at sf10 — AQE re-planned each subtree past ReusedExchange and the
      // whole q146 pipeline re-ran per consumer (measured 294 s at sf10
      // vs q146's own 51 s on the same input).
      val scores = bigramScores(s, dir).select(col("doc_id"), col("avg_ppm"))
        .localCheckpoint(false) // lazy since r16: the decile agg materializes it
      // Decile boundaries via VALUE RUNS (the q189 technique, r14): the
      // value at global rank r is determined by how ranks fall across
      // runs of equal avg_ppm, so the corpus-sized single-partition
      // row_number window the r13 shape used collapses to one
      // map-combinable distinct-value aggregate plus a window over the
      // DOMAIN (integer ppm — bounded regardless of corpus size). One
      // boundary value is emitted PER k, duplicates included, exactly as
      // the row_number form collected them (two ranks inside one run ⇒
      // the same value twice in ts — the banding filter counts it twice).
      // r17, tried and REVERTED: folding this count() into an in-plan
      // broadcast total (the q92/q189 pattern) measured SLOWER (A/B min
      // 1.80→1.89, med 2.60→2.70, 4 cycles × 2 reps) — the count is not
      // just an action, it is the materialization BARRIER for the lazy
      // scores checkpoint: with it gone, the totF/vals/banded consumers
      // race to materialize the same cache from concurrent stages and the
      // expensive bigram pipeline can run more than once. Keep the count.
      val tot = scores.count()
      val vals = scores.groupBy(col("avg_ppm")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(Window.orderBy(asc("avg_ppm"))))
      val ranks = (1 to 9).map(k => (k * tot) / 10)
      val thr = vals
        .select(col("avg_ppm"), col("cum"), col("c"),
          explode(lit(ranks.toArray)).as("r"))
        .filter(col("cum") >= col("r") && col("cum") - col("c") < col("r"))
        .agg(sort_array(collect_list(col("avg_ppm"))).as("ts"))
      val banded = scores.crossJoin(broadcast(thr))
        .select(col("doc_id"),
          (size(expr("filter(ts, t -> avg_ppm > t)")) + 1).cast(LongType).as("band"))
        .withColumn("h", (col("doc_id") * 1315423911L) % 1048573L)
        // phase 0 = best decile first; 64 hash-range buckets per band
        .withColumn("phase", lit(10L) - col("band"))
        .withColumn("bucket", col("phase") * 64L + expr("h div 16384"))
      val offsets = banded.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .withColumn("off",
          coalesce(sum(col("cnt")).over(
            Window.orderBy(asc("bucket"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .drop("cnt")
      val w = Window.partitionBy(col("bucket")).orderBy(asc("h"), asc("doc_id"))
      banded.join(broadcast(offsets), Seq("bucket"))
        .withColumn("pos", (col("off") + row_number().over(w) - lit(1)).cast(LongType))
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("band"), col("pos"))
        .orderBy(asc_nulls_first("pos"))
    },
    Some("""WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
             FROM documents),
      t AS (SELECT doc_id, unnest(ws) AS w,
                   unnest(generate_series(1, len(ws))) AS pos FROM toks),
      b AS (SELECT doc_id, w AS w1,
                   lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM t),
      bb AS (SELECT doc_id, w1, w2 FROM b WHERE w2 IS NOT NULL),
      cnt2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bb GROUP BY w1, w2),
      cnt1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY w1),
      wt AS (SELECT cnt2.w1, cnt2.w2,
                    CAST((1000000 * c2) // c1 AS BIGINT) AS ppm
             FROM cnt2 JOIN cnt1 USING (w1)),
      sc AS (SELECT bb.doc_id,
                    CAST(SUM(ppm) // COUNT(*) AS BIGINT) AS avg_ppm
             FROM bb JOIN wt ON bb.w1 = wt.w1 AND bb.w2 = wt.w2
             GROUP BY bb.doc_id),
      rk AS (SELECT doc_id, avg_ppm,
                    ROW_NUMBER() OVER (ORDER BY avg_ppm ASC, doc_id ASC) AS rn,
                    COUNT(*) OVER () AS cnt
             FROM sc),
      thr AS (SELECT list_sort(list(avg_ppm)) AS ts FROM rk
              WHERE rn IN ((1*cnt)//10, (2*cnt)//10, (3*cnt)//10, (4*cnt)//10,
                           (5*cnt)//10, (6*cnt)//10, (7*cnt)//10, (8*cnt)//10,
                           (9*cnt)//10)),
      bd AS (SELECT sc.doc_id,
                    CAST(len(list_filter(thr.ts, x -> sc.avg_ppm > x)) + 1 AS BIGINT) AS band,
                    (sc.doc_id * 1315423911) % 1048573 AS h
             FROM sc, thr),
      p AS (SELECT doc_id, band,
                   ROW_NUMBER() OVER (ORDER BY (10 - band) ASC, h ASC, doc_id ASC) - 1 AS pos
            FROM bd)
      SELECT doc_id, band, CAST(pos AS BIGINT) AS pos FROM p WHERE doc_id % 7 = 0
      ORDER BY pos ASC NULLS FIRST"""),
    "curriculum order: q146-score deciles (frozen rank boundaries), best band first, in-band Knuth shuffle, two-level global positions (training-order surface)")

  /** q155: line-level boilerplate removal (the CCNet/RefinedWeb
    * paragraph-dedup step, Wenzek et al. 2020 §3.1): a "line" that recurs
    * across ≥ `minDocs` DISTINCT documents is navigation/footer/license
    * boilerplate and is stripped from every document, preserving the
    * remaining lines' order. The corpus here is single-line word streams,
    * so "lines" are the non-overlapping `segLen`-word segments — the
    * operator is the same either way: segment, count distinct docs per
    * segment, strip recurrent segments, reassemble.
    *
    * Scale shape: segments extract MAP-SIDE from the split array (no
    * per-doc window); the ONE corpus-scale shuffle carries only
    * (xxhash64(segment), doc_id) — never segment text. The recurrent-hash
    * set (bounded by the corpus's distinct duplicated-segment count, q149's
    * broadcast argument) broadcasts into an inner join whose output —
    * (doc_id, seg_id) drop lists, only for AFFECTED docs — is int-pair
    * sized, aggregates on doc_id, and broadcasts back so reassembly is a
    * map-side lambda over the original array. If the duplicated-segment
    * universe outgrows broadcast at 100 TB, both broadcasts degrade to
    * hash joins keyed on the same columns and the shuffles still carry no
    * text. */
  def boilerplateStrip(docs: org.apache.spark.sql.DataFrame, segLen: Int,
      minDocs: Int): org.apache.spark.sql.DataFrame = {
    val segged = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
      .select(col("doc_id"), expr(
        s"CASE WHEN size(ws) >= 1 THEN transform(sequence(0, (size(ws) - 1) div $segLen), " +
          s"i -> concat_ws(' ', slice(ws, i * $segLen + 1, $segLen))) " +
          "ELSE CAST(array() AS ARRAY<STRING>) END").as("segs"))
    val exploded = segged.select(col("doc_id"),
      posexplode(col("segs")).as(Seq("seg_id", "seg")))
    val recurrent = exploded
      .select(xxhash64(col("seg")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs).select(col("h"))
    val dropLists = exploded
      .join(broadcast(recurrent), xxhash64(col("seg")) === col("h"))
      .groupBy(col("doc_id")).agg(collect_set(col("seg_id")).as("drop_ids"))
    segged.join(broadcast(dropLists), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("segs")).cast(LongType).as("n_segs"),
        coalesce(size(col("drop_ids")), lit(0)).cast(LongType).as("n_dropped"),
        expr("concat_ws(' ', filter(segs, (x, i) -> drop_ids IS NULL " +
          "OR NOT array_contains(drop_ids, i)))").as("clean_text"))
      .orderBy(asc_nulls_first("doc_id"))
  }

  private val q155 = Q(
    "q155_boilerplate_strip",
    (s, dir) => boilerplateStrip(T(s, dir, "documents"), 4, 2),
    Some("""WITH d AS (SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS ws
             FROM documents),
      seg AS (SELECT doc_id, ws,
                     unnest(generate_series(0, (len(ws) - 1) // 4)) AS seg_id
              FROM d WHERE len(ws) >= 1),
      s2 AS (SELECT doc_id, seg_id,
                    array_to_string(ws[seg_id * 4 + 1 : seg_id * 4 + 4], ' ') AS seg
             FROM seg),
      boiler AS (SELECT seg FROM s2 GROUP BY seg
                 HAVING COUNT(DISTINCT doc_id) >= 2),
      marked AS (SELECT s2.doc_id, s2.seg_id, s2.seg,
                        s2.seg IN (SELECT seg FROM boiler) AS dropped
                 FROM s2),
      agged AS (SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_segs,
                       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                         AS n_dropped,
                       COALESCE(string_agg(CASE WHEN dropped THEN NULL ELSE seg END,
                                           ' ' ORDER BY seg_id), '') AS clean_text
                FROM marked GROUP BY doc_id)
      SELECT d.doc_id,
             COALESCE(a.n_segs, 0) AS n_segs,
             COALESCE(a.n_dropped, 0) AS n_dropped,
             COALESCE(a.clean_text, '') AS clean_text
      FROM d LEFT JOIN agged a USING (doc_id)
      ORDER BY doc_id ASC NULLS FIRST"""),
    "CCNet-style recurrent-line (segment) boilerplate strip with order-preserving reassembly; the one corpus shuffle carries (hash, doc_id) only")

  val all: Seq[Q] = Seq(q144, q145, q146, q147, q149, q150, q151, q155)
}
