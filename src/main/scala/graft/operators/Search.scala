package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.{TextFunctions, VectorFunctions}

/** Corpus search + mixture operators for a training-data pipeline
  * (north-star extension, same family as TextAnalysis/Curation):
  *
  *   - q105 phrase search: how often does an exact token phrase occur per
  *     document — the support-counting primitive behind corpus search and
  *     n-gram decontamination probes.
  *   - q106 temperature mixture: per-domain sampling quotas proportional
  *     to count^(1/2) — the "temperature" reweighting every multi-domain
  *     pretraining mix uses (cf. multilingual sampling in public XLM-R /
  *     Pile writeups) so small domains aren't drowned by big ones.
  *   - q107 vocab growth: Heaps-law curve — cumulative distinct vocabulary
  *     vs tokens seen at corpus checkpoints, the standard diversity
  *     diagnostic for a growing corpus.
  *
  * All three are deterministic and DuckDB-oracled. Scale notes per op.
  */
object Search {

  /** q106's pinned sample budget — shared by `temperatureMix`'s default
    * AND the generated oracle SQL so they cannot silently diverge. */
  private[operators] val MixTotal = 200

  /** q105 — per-document occurrence count of an exact token phrase.
    *
    * Spark-first shape: the n-gram assembly runs scan-local through the
    * native `WordNgramList` expression (one pass per row, codegen'd), and
    * the count is a `size(filter(...))` over that row-local array — ZERO
    * shuffles, no posting-list join, nothing but a scan. That is the right
    * plan for corpus-wide phrase counting at 100 TB: throughput is bounded
    * by parquet scan speed. (Point lookups — "which docs contain this
    * phrase, fast" — are instead served by persisting the n-gram posting
    * table bucketed by shingle, the same layout writeShards/q96 and the
    * contamination probe q87 use; this operator is the full-corpus pass.)
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String] = Seq("table", "part")): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(w => w.nonEmpty && !w.exists(_.isWhitespace)),
      "phrase must be non-empty whitespace-free tokens")
    VectorFunctions.register(docs.sparkSession)
    val n = phrase.length
    val needle = phrase.mkString(" ")
    docs.select(col("doc_id"),
        size(filter(VectorFunctions.wordNgramList(col("text"), n),
          g => g === lit(needle))).cast("long").as("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("doc_id"))
  }

  /** q106 — temperature-weighted mixture sample over `source` domains.
    *
    * Quota per domain s: floor(total * w_s / Σw) with w_s = sqrt(n_s),
    * floored to ≥1 so no domain disappears. Integer-exact cross-engine:
    * IEEE sqrt is correctly rounded (bit-identical in Spark and DuckDB),
    * the weight is then floored to a BIGINT at 1e6 scale, and both the
    * denominator sum and the quota division are pure integer arithmetic —
    * no float summation order anywhere. Row selection inside a domain is
    * the established md5(doc_id) ordering (q48/q63/q81): reproducible at
    * any parallelism, any engine.
    *
    * Scale shape: one partial+final count per domain (domain cardinality
    * is tiny — the 1-row denominator and the quota frame broadcast), then
    * one window over the corpus partitioned BY SOURCE — the heavy sort is
    * per-domain, parallel across domains. At 100 TB the win is that
    * nothing global is sorted: each domain ranks its own hash keys.
    */
  def temperatureMix(docs: DataFrame, total: Int = MixTotal): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val scaled = counts.withColumn("w_scaled",
      floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
    val denom = scaled.agg(sum(col("w_scaled")).as("w_total"))
    val quotas = scaled.crossJoin(broadcast(denom))
      .withColumn("quota",
        greatest(lit(1L), expr(s"(CAST($total AS BIGINT) * w_scaled) div w_total")))
      .select(col("source"), col("quota"))
    val keyed = docs
      .join(broadcast(quotas), Seq("source"))
      .withColumn("sample_key", md5(col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source")).orderBy(col("sample_key"), col("doc_id"))
    keyed.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= col("quota"))
      .select(col("doc_id"), col("source"), col("quota"))
      .orderBy(col("doc_id"))
  }

  /** q107 — Heaps-law vocabulary growth at ten corpus checkpoints.
    *
    * Checkpoint k's boundary is an ARITHMETIC doc_id threshold
    * (min_id + span*k/10, integer math from one min/max aggregate) — NOT a
    * global row_number sort. vocab(k) counts tokens whose first occurrence
    * (min doc_id, one shuffle keyed by token) falls at or below the
    * boundary; tokens_seen(k) sums per-doc token counts below it.
    *
    * CONDITIONAL-SUM SHAPE: the k=1..10 checkpoints are evaluated as ten
    * `sum(when(x <= cp_k, ...))` columns inside ONE aggregate per frame
    * (the boundary expressions ride on a 1-row bounds attach), then a
    * `stack` unpivot emits the 10-row curve. The earlier formulation
    * theta-joined a 10-row checkpoint frame against the vocab frame —
    * a 10× row-multiplying BroadcastNestedLoopJoin before the aggregate;
    * this one scans each frame exactly once with zero row multiplication.
    * At 100 TB the token min-agg is the only corpus-sized shuffle, and it
    * is partial+final on the token key.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val bounds = broadcast(
      d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi")))
    // checkpoint k's boundary, evaluated per-row from the attached bounds
    def cp(k: Int) = col("lo") + expr(s"((hi - lo + 1) * $k) div 10") - lit(1L)
    val ks = 1 to 10
    val tokFirst = d.select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(min(col("doc_id")).as("first_doc"))
    // `.otherwise(0L)` so an EMPTY checkpoint (doc-id span < 10 makes
    // cp(1) < lo) reports 0, not the NULL a no-otherwise sum(when) leaves.
    val vocabAgg = tokFirst.crossJoin(bounds)
      .agg(sum(when(col("first_doc") <= cp(ks.head), 1L).otherwise(0L)).as(s"vocab_${ks.head}"),
        ks.tail.map(k => sum(when(col("first_doc") <= cp(k), 1L).otherwise(0L)).as(s"vocab_$k")): _*)
    val docSizes = d.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
    val seenAgg = docSizes.crossJoin(bounds)
      .agg(min(col("lo")).as("lo"), // constant within the 1-row group
        min(col("hi")).as("hi") +:
        ks.flatMap(k => Seq(
          sum(when(col("doc_id") <= cp(k), 1L).otherwise(0L)).as(s"nd_$k"),
          sum(when(col("doc_id") <= cp(k), col("n_toks")).otherwise(0L)).as(s"ts_$k"))): _*)
    val stackArgs = ks.map(k => s"$k, nd_$k, ts_$k, vocab_$k").mkString(", ")
    seenAgg.crossJoin(vocabAgg) // 1×1 row
      .select(col("lo"), col("hi"),
        expr(s"stack(${ks.size}, $stackArgs) AS (k, n_docs, tokens_seen, vocab)"))
      .select(col("k").cast("int").as("k"),
        (col("lo") + expr("((hi - lo + 1) * k) div 10") - lit(1L)).as("cp_doc_id"),
        col("n_docs"), col("tokens_seen"), col("vocab"))
      .orderBy(col("k"))
  }

  // --------------------------------------------------------------------- //

  // ------------------------------------------------------------------ q207

  /** q207 pinned parameters: result size, candidate shortlist, and the
    * relevance/diversity trade-off λ (score = λ·rel − (1−λ)·max-sim). */
  private[operators] val MmrK = 5
  private[operators] val MmrShortlist = 30
  private[operators] val MmrLambda = 0.7

  /** q207 — MMR result diversification (Carbonell & Goldstein, SIGIR'98):
    * greedily re-rank each query's brute-force top-[[MmrShortlist]] into
    * [[MmrK]] results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected — the de-duplicating re-rank a retrieval-backed
    * curation pipeline applies so its exemplars aren't five copies of the
    * same near-dup. Greedy selection is INHERENTLY sequential in k, so
    * the loop is a bounded k-round plan unrolling (the q136/q147 bounded-
    * round discipline), NOT a driver loop over rows: each round is one
    * candidates×selected join (≤ shortlist·k rows per query), one
    * per-query argmax window, one union.
    *
    * Determinism: relevance and pairwise sims are the same cosine chain
    * as q25 (oracle: list_cosine_similarity, bit-matching per q179);
    * λ/(1−λ) are pinned literals; every argmax breaks ties by
    * neighbor_id. Scale shape: all work after the q25 shortlist is
    * per-query and shortlist-bounded; the selected set stays ≤ k rows
    * per query (broadcast-sized by construction).
    *
    * Round-16 optimization: `selected` is localCheckpoint'ed each round.
    * Round r references round r−1's frame inside a join, so the one-DAG
    * unroll grew ~quadratically in k (the dumped initial plan held 126
    * parquet scans and 62 Window nodes) and the query's cost was Catalyst
    * analysis, not execution — the checkpointed frame is |queries|·rank
    * rows, so each round's eager job is milliseconds (the q147/q191
    * bounded-round discipline; the q109/q136 one-DAG form stays right for
    * loops whose per-round state is corpus-scale). Measured min-of-3 at
    * sf0.1: 6.6–10.1 s → 4.3–5.9 s, identical output
    * (OPTIMIZATION_r16.md, "q207_mmr_diversify"). */
  def mmrDiversify(spark: SparkSession, embs: DataFrame, k: Int = MmrK,
                   shortlist: Int = MmrShortlist,
                   lambda: Double = MmrLambda): DataFrame = {
    VectorFunctions.register(spark)
    val cand = graft.core.CacheScope.cached(
      Similarity.bruteForceTopK(spark, embs, k = shortlist)
        .select(col("query_id"), col("neighbor_id"), col("cosine").as("rel"))
        .join(embs.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("mmr").desc, col("neighbor_id"))
    var selected = cand.withColumn("mmr", col("rel"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id"), col("rel"), col("mmr"),
        lit(1).as("rank"), col("embedding"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val pen = cand.as("c")
        .join(selected.select(col("query_id"), col("neighbor_id").as("sid"),
          col("embedding").as("semb")), Seq("query_id"))
        .groupBy(col("query_id"), col("c.neighbor_id"), col("c.rel"))
        .agg(max(VectorFunctions.cosineSim(col("c.embedding"), col("semb")))
            .as("pen"),
          max(when(col("c.neighbor_id") === col("sid"), 1L).otherwise(0L))
            .as("taken"))
        .filter(col("taken") === 0L)
      val pick = pen
        .withColumn("mmr", lit(lambda) * col("rel") - lit(1.0 - lambda) * col("pen"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(embs.select(col("vec_id").as("neighbor_id"), col("embedding")),
          Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("rel"), col("mmr"),
          lit(r).as("rank"), col("embedding"))
      selected = selected.unionAll(pick).localCheckpoint()
    }
    selected.select(col("query_id"), col("rank"), col("neighbor_id"),
        col("rel"), col("mmr"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------------------ q211

  /** q211's pinned fusion parameters — shared by `rrfFusion`'s defaults
    * AND the generated oracle so the two cannot silently diverge. */
  private[operators] val RrfC = 60
  private[operators] val RrfListLen = 50
  private[operators] val RrfTopN = 20
  private[operators] val RrfTerms = Seq("table", "part")

  /** q211 — Reciprocal Rank Fusion of two retrieval rankings: the
    * lexical signal (occurrence count of the pinned query terms, q105's
    * scan-local token machinery) and the quality signal (q31's score) —
    * the standard hybrid-search combiner (Cormack et al. 2009):
    * RRF(d) = Σ_lists 1/(c + rank_list(d)) over each list's top
    * [[RrfListLen]], absent-from-list contributing 0.
    *
    * Determinism: both per-list ranks are integers (ties broken by
    * doc_id; the quality VALUES are bit-identical cross-engine — q185
    * already ranks on them and hash-matches), and the fused score is a
    * fixed two-term IEEE sum (lexical term first, then quality — same
    * order both engines). The final top-[[RrfTopN]] boundary breaks ties
    * by doc_id.
    *
    * Scale shape: both scores are scan-local; each top-K list plans as
    * TakeOrderedAndProject (per-partition heaps, no global sort), and
    * everything after — the window ranks, the full-outer fusion join,
    * the final top-N — runs on ≤ 2·[[RrfListLen]] rows. At 100 TB the
    * cost is two parquet scans (or one, if the caller fuses the two
    * score projections); nothing downstream grows with the corpus. */
  def rrfFusion(docs: DataFrame, terms: Seq[String] = RrfTerms): DataFrame = {
    require(terms.nonEmpty && terms.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      "query terms must be non-empty whitespace-free tokens")
    val tf = docs.select(col("doc_id"),
      size(filter(TextFunctions.tokens(col("text")),
        t => t.isin(terms: _*))).cast("long").as("tf"))
    val listA = tf.orderBy(col("tf").desc, col("doc_id")).limit(RrfListLen)
      .withColumn("rank_tf",
        row_number().over(Window.orderBy(col("tf").desc, col("doc_id"))).cast("long"))
    val q = TextAnalysis.quality(docs).select(col("doc_id"), col("quality_score"))
    val listB = q.orderBy(col("quality_score").desc, col("doc_id")).limit(RrfListLen)
      .withColumn("rank_quality",
        row_number().over(
          Window.orderBy(col("quality_score").desc, col("doc_id"))).cast("long"))
    listA.select(col("doc_id"), col("rank_tf"))
      .join(listB.select(col("doc_id"), col("rank_quality")), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_tf"), col("rank_quality"),
        (coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_tf").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfC.toDouble) + col("rank_quality").cast("double")),
            lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id")).limit(RrfTopN)
  }

  // ------------------------------------------------------------ q279

  /** q279 — hybrid retrieval with reciprocal-rank fusion (RRF;
    * Cormack/Clarke/Buettcher SIGIR 2009 — the fusion step of every
    * production RAG stack that runs lexical AND dense retrieval): the
    * q67 BM25 ranker (fixed query terms) and a dense cosine ranker
    * (fixed query vector, vec_id 0 — embeddings align 1:1 with doc_ids)
    * each produce a top-50 candidate list; fusion scores are
    * floor(1e12 / (60 + rank)) summed across rankers — INTEGER-exact,
    * the reason RRF (not score interpolation) is the oracle-friendly
    * and production-robust choice: it needs no cross-ranker score
    * calibration. Emits the fused top-20 with both source ranks (null
    * where a ranker didn't surface the doc).
    *
    * Scale shape: the lexical side is candidate-bounded (only docs
    * containing a query term rank); the dense side here is the q25
    * brute baseline — at 100 TB the IVF index (q104) generates the
    * same top-N candidate list and fusion is unchanged: RRF itself
    * touches only 2×topN rows, and the global rank windows run on
    * those bounded lists, never the corpus. Per-doc BM25 sums add at
    * most |terms|=2 doubles, so the sum is order-free. */
  def q279HybridRrf(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.register(s)
    val terms = Seq("spark", "table")
    val topN = 50
    val docs = Tables.documents(s, dir)
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("t"))
    val dlen = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avg_dl"))
    val tf = tok.filter(col("t").isin(terms: _*))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("t")).agg(count(lit(1)).as("df_t"))
    val k1 = lit(1.2); val b = lit(0.75)
    val lexScore = tf.join(dlen, "doc_id").join(broadcast(dft), "t")
      .crossJoin(broadcast(stats))
      .withColumn("score", graft.functions.Pin.grid9(
        log((col("n_docs").cast("double") - col("df_t") + 0.5) /
          (col("df_t") + 0.5) + 1.0)) *
        (col("tf") * (k1 + 1.0)) /
        (col("tf") + k1 * (lit(1.0) - b + b * col("dl").cast("double") / col("avg_dl"))))
      .groupBy(col("doc_id")).agg(sum(col("score")).as("lex_score"))
    val wl = Window.orderBy(col("lex_score").desc, col("doc_id"))
    val lex = lexScore.withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= topN).select(col("doc_id"), col("lex_rank"))
    val embs = Tables.embeddings(s, dir)
    val qv = embs.filter(col("vec_id") === 0L).select(col("embedding").as("q_emb"))
    val wd = Window.orderBy(col("cosine").desc, col("doc_id"))
    val dense = embs.filter(col("vec_id") =!= 0L)
      .select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(qv))
      .withColumn("cosine", VectorFunctions.cosineSim(col("q_emb"), col("embedding")))
      .withColumn("dense_rank", row_number().over(wd))
      .filter(col("dense_rank") <= topN).select(col("doc_id"), col("dense_rank"))
    val wf = Window.orderBy(col("rrf_score").desc, col("doc_id"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000000000 div (60 + dense_rank)"), lit(0L)))
      .withColumn("fused_rank", row_number().over(wf))
      .filter(col("fused_rank") <= 20)
      .select(col("fused_rank"), col("doc_id"), col("rrf_score"),
        col("lex_rank"), col("dense_rank"))
      .orderBy(col("fused_rank"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q279_hybrid_rrf" -> (q279HybridRrf _),
    "q211_rrf_fusion" -> ((s, d) => rrfFusion(Tables.documents(s, d))),
    "q207_mmr_diversify" -> ((s, d) => mmrDiversify(s, Tables.embeddings(s, d))),
    "q105_phrase_search" -> ((s, d) => phraseSearch(Tables.documents(s, d))),
    "q106_temperature_mix" -> ((s, d) => temperatureMix(Tables.documents(s, d))),
    "q107_vocab_growth" -> ((s, d) => vocabGrowth(Tables.documents(s, d)))
  )

  /** q207 oracle, GENERATED with one CTE pair per greedy round so the
    * unrolled selection structure (and the λ literals, including the
    * double-exact 1−λ) is identical to the engine plan. */
  private def mmrOracle: String = {
    val lam = MmrLambda
    val oneMinus = 1.0 - MmrLambda
    val rounds = (2 to MmrK).map { r =>
      s"""p$r AS (
         |  SELECT c.query_id, c.neighbor_id, c.rel,
         |    max(list_cosine_similarity(ce.e, se.e)) AS pen,
         |    max(CASE WHEN c.neighbor_id = s.neighbor_id THEN 1 ELSE 0 END) AS taken
         |  FROM cand c
         |  JOIN sel${r - 1} s ON s.query_id = c.query_id
         |  JOIN v ce ON ce.vec_id = c.neighbor_id
         |  JOIN v se ON se.vec_id = s.neighbor_id
         |  GROUP BY c.query_id, c.neighbor_id, c.rel),
         |k$r AS (
         |  SELECT query_id, neighbor_id, rel, ${graft.functions.Pin.sqlDouble(lam)} * rel - ${graft.functions.Pin.sqlDouble(oneMinus)} * pen AS mmr,
         |    $r AS rank
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${graft.functions.Pin.sqlDouble(lam)} * rel - ${graft.functions.Pin.sqlDouble(oneMinus)} * pen DESC, neighbor_id) AS rn
         |    FROM p$r WHERE taken = 0)
         |  WHERE rn = 1),
         |sel$r AS (
         |  SELECT query_id, neighbor_id, rel, mmr, rank FROM sel${r - 1}
         |  UNION ALL
         |  SELECT query_id, neighbor_id, rel, mmr, rank FROM k$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10),
       |bs AS (
       |  SELECT q.query_id, v.vec_id AS neighbor_id,
       |    list_cosine_similarity(q.qe, v.e) AS rel,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY list_cosine_similarity(q.qe, v.e) DESC, v.vec_id) AS rank
       |  FROM q JOIN v ON q.query_id <> v.vec_id),
       |cand AS (SELECT query_id, neighbor_id, rel FROM bs WHERE rank <= $MmrShortlist),
       |sel1 AS (
       |  SELECT query_id, neighbor_id, rel, rel AS mmr, 1 AS rank
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, neighbor_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |$rounds
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, rel, mmr
       |FROM sel$MmrK ORDER BY query_id, rank""".stripMargin
  }

  /** q211's DuckDB twin — same list lengths, rank tie-breaks, and the
    * same fixed two-term fused sum (lexical first). */
  private def rrfOracle: String = {
    val inList = RrfTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id,
       |    CAST(len([x for x in ws if x IN ($inList)]) AS BIGINT) AS tf
       |  FROM w),
       |ta AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY tf DESC, doc_id) AS BIGINT)
       |      AS rank_tf
       |  FROM tf QUALIFY rank_tf <= $RrfListLen),
       |q AS (
       |  SELECT doc_id,
       |    least(1.0, CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE)
       |      / 100.0) *
       |    (1.0 - CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
       |      / CAST(length(text) AS DOUBLE)) AS quality_score
       |  FROM documents),
       |tb AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT)
       |      AS rank_quality
       |  FROM q QUALIFY rank_quality <= $RrfListLen),
       |f AS (
       |  SELECT COALESCE(ta.doc_id, tb.doc_id) AS doc_id, ta.rank_tf, tb.rank_quality,
       |    COALESCE(1.0 / ($RrfC.0 + CAST(ta.rank_tf AS DOUBLE)), 0.0)
       |      + COALESCE(1.0 / ($RrfC.0 + CAST(tb.rank_quality AS DOUBLE)), 0.0) AS rrf
       |  FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id)
       |SELECT doc_id, rank_tf, rank_quality, rrf
       |FROM f ORDER BY rrf DESC, doc_id LIMIT $RrfTopN""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q279_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT d.doc_id, t.t
        |  FROM documents d, unnest(regexp_split_to_array(trim(d.text), '\s+')) AS t(t)),
        |dlen AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_dl
        |  FROM dlen),
        |tf AS (
        |  SELECT doc_id, t, count(*) AS tf FROM tok
        |  WHERE t IN ('spark', 'table') GROUP BY doc_id, t),
        |dft AS (SELECT t, count(*) AS df_t FROM tf GROUP BY t),
        |lexs AS (
        |  SELECT tf.doc_id, sum(
        |    (floor(ln((CAST(n_docs AS DOUBLE) - df_t + 0.5) / (df_t + 0.5) + 1.0)
        |      * 1.0e9 + 0.5) / 1.0e9) *
        |      (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avg_dl)))
        |    AS lex_score
        |  FROM tf JOIN dlen USING (doc_id) JOIN dft USING (t) CROSS JOIN stats
        |  GROUP BY tf.doc_id),
        |lex AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY lex_score DESC, doc_id) AS INT) AS lex_rank
        |  FROM lexs QUALIFY lex_rank <= 50),
        |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
        |dens AS (
        |  SELECT vec_id AS doc_id,
        |    list_cosine_similarity(qe, CAST(embedding AS DOUBLE[])) AS cosine
        |  FROM embeddings CROSS JOIN qv WHERE vec_id <> 0),
        |dense AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY cosine DESC, doc_id) AS INT) AS dense_rank
        |  FROM dens QUALIFY dense_rank <= 50),
        |fused AS (
        |  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
        |    lex.lex_rank, dense.dense_rank,
        |    coalesce(1000000000000 // (60 + lex.lex_rank), 0) +
        |      coalesce(1000000000000 // (60 + dense.dense_rank), 0) AS rrf_score
        |  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
        |    AS fused_rank,
        |  doc_id, CAST(rrf_score AS BIGINT) AS rrf_score, lex_rank, dense_rank
        |FROM fused QUALIFY fused_rank <= 20 ORDER BY fused_rank""".stripMargin,
    "q211_rrf_fusion" -> rrfOracle,
    "q207_mmr_diversify" -> mmrOracle,
    // position-join formulation — independent of the Spark n-gram path
    "q105_phrase_search" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, CAST(r.i AS INT) AS pos, ws[CAST(r.i AS INT) + 1] AS w
        |  FROM d, unnest(range(0, len(ws))) AS r(i))
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_matches
        |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |WHERE a.w = 'table' AND b.w = 'part'
        |GROUP BY a.doc_id
        |ORDER BY a.doc_id""".stripMargin,
    "q106_temperature_mix" ->
      s"""WITH counts AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |scaled AS (
        |  SELECT source,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS w_scaled
        |  FROM counts),
        |quotas AS (
        |  SELECT source,
        |    CAST(greatest(CAST(1 AS BIGINT),
        |      (CAST($MixTotal AS BIGINT) * w_scaled) //
        |        (SELECT sum(w_scaled) FROM scaled)) AS BIGINT) AS quota
        |  FROM scaled),
        |ranked AS (
        |  SELECT d.doc_id, d.source, q.quota,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
        |  FROM documents d JOIN quotas q USING (source))
        |SELECT doc_id, source, quota FROM ranked
        |WHERE rn <= quota
        |ORDER BY doc_id""".stripMargin,
    "q107_vocab_growth" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |bounds AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM d),
        |cps AS (
        |  SELECT CAST(r.k AS INT) AS k,
        |    lo + ((hi - lo + 1) * r.k) // 10 - 1 AS cp_doc_id
        |  FROM bounds, unnest(range(1, 11)) AS r(k)),
        |tok_first AS (
        |  SELECT t.tok AS token, min(d.doc_id) AS first_doc
        |  FROM d, unnest(toks) AS t(tok)
        |  GROUP BY t.tok),
        |doc_sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d),
        |vocab AS (
        |  SELECT c.k, c.cp_doc_id, CAST(count(t.token) AS BIGINT) AS vocab
        |  FROM cps c LEFT JOIN tok_first t ON t.first_doc <= c.cp_doc_id
        |  GROUP BY c.k, c.cp_doc_id),
        |seen AS (
        |  SELECT c.k, c.cp_doc_id, CAST(count(s.doc_id) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(s.n_toks), 0) AS BIGINT) AS tokens_seen
        |  FROM cps c LEFT JOIN doc_sizes s ON s.doc_id <= c.cp_doc_id
        |  GROUP BY c.k, c.cp_doc_id)
        |SELECT v.k, v.cp_doc_id, s.n_docs, s.tokens_seen, v.vocab
        |FROM vocab v JOIN seen s ON v.k = s.k AND v.cp_doc_id = s.cp_doc_id
        |ORDER BY v.k""".stripMargin
  )
}
