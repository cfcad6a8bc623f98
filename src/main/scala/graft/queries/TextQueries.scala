package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, QualityClassifier, TextAnalysis}

/** Text-analysis + exact-dedup query surface over `documents`
  * (the north-star LLM-pipeline operators; round-1 verdict items 1-2).
  *
  * Every op is pure `Column` arithmetic from [[TextAnalysis]] /
  * [[Dedup]] with an exact DuckDB mirror — whole-stage codegen on the
  * Spark side, hash-verifiable on the oracle side.
  */
object TextQueries {

  private def docs(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.table(s, d, "documents")

  /** Releasable plan-deduped cache (shared TrackedCache discipline) —
    * here it backs ops/Rank's two-action range-partitioned frames.
    */
  private val tracked = new TrackedCache

  /** Unpersist every cache entry created by this registry (idempotent). */
  def releaseCaches(): Unit = tracked.release()

  import TextAnalysis.{Sql => TS}

  /** Shared BM25 scorer (k1 = 1.2, b = 0.75, Lucene +1-idf always-
    * positive variant) — one definition consumed by tx26 (lexical
    * retrieval) AND sim12 (hybrid RRF fusion), so the two can never
    * drift. Returns (doc_id, bm25 6-dp, n_terms). Inverted-index
    * discipline: the term-IN predicate sits INSIDE the posting build
    * (shuffle carries only matching postings); df + corpus stats are
    * scalar broadcasts; float literals pinned to the same decimal
    * strings as [[bm25Sql]].
    */
  def bm25Scores(base: DataFrame, qterms: Seq[String]): DataFrame = {
    val dl = base.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("__n"),
      avg(col("dl").cast("double")).as("__avgdl"))
    val post = base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(qterms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = post.groupBy("term").agg(count(lit(1)).as("__df"))
    post
      .join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5))))
      // literals pinned to the same decimal strings as the SQL
      // (computing k1+1.0 in Scala could differ from parsing
      // "2.2" by one ulp); 1−b = 0.25 is exact binary either way
      .withColumn("w",
        col("idf") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("__avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("w"), 6).as("bm25"), count(lit(1)).as("n_terms"))
  }

  /** DuckDB mirror of [[bm25Scores]]: CTEs `dl/stats/post/df/scored`;
    * select `doc_id, round(sum(w), 6), count(*)` from `scored` after.
    */
  def bm25Sql(qtermsIn: String): String =
    s"""dl AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl
       |  FROM documents),
       |stats AS (SELECT count(*)::BIGINT AS n, avg(dl::DOUBLE) AS avgdl FROM dl),
       |post AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE term IN ($qtermsIn) GROUP BY 1, 2),
       |df AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY 1),
       |scored AS (SELECT p.doc_id,
       |    ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
       |      * (p.tf * 2.2) / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)) AS w
       |  FROM post p JOIN df f ON p.term = f.term
       |  JOIN dl d ON p.doc_id = d.doc_id CROSS JOIN stats s)""".stripMargin

  /** Chunk geometry shared by tx11 (chunking) and tx13 (passage
    * dedup) — one definition, interpolated into both oracle mirrors.
    */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** DuckDB mirror of [[TextAnalysis.overlappingChunks]] applied at
    * chunk index `i` over a `toks` list column (DuckDB slices are
    * 1-indexed inclusive and truncate at the end, like Spark slice).
    */
  private def chunkSliceSql(i: String): String =
    s"toks[$i*$ChunkStride+1 : $i*$ChunkStride+$ChunkSize]"

  /** DuckDB mirror of the chunk-index range 0..floor((len-1)/stride). */
  private val chunkIdxSql =
    s"unnest(generate_series(0, CAST(floor((len(toks)-1)/$ChunkStride) AS INT)))"

  /** Email-shaped PII pattern (tx14) — character classes only so Java
    * (Spark) and RE2 (DuckDB) agree; ONE definition interpolated into
    * both engines so the mirrors cannot drift.
    */
  private val PiiPattern = "[a-z0-9]+@[a-z]+[.][a-z]+"

  /** Gram length for the duplicated-n-gram coverage signal (tx22) —
    * 8 tokens, the published substring-dedup granularity scale.
    */
  private val DupGramK = 8

  val all: Seq[QueryDef] = Seq(

    // ----- token statistics per source (token counting brief item)
    QueryDef(
      "tx1_token_stats",
      (s, d) => docs(s, d)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("ntok"),
          TextAnalysis.distinctTokenCount(col("text")).as("ndis"),
          TextAnalysis.avgTokenLen(col("text")).as("atl"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg("ntok"), 6).as("avg_tokens"),
             round(avg("ndis"), 6).as("avg_distinct_tokens"),
             round(avg("atl"), 6).as("avg_token_len"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |round(avg(${TS.tokenCount}),6) AS avg_tokens,
              |round(avg(${TS.distinctTokenCount}),6) AS avg_distinct_tokens,
              |round(avg((length(text) - (${TS.tokenCount} - 1)) / ${TS.tokenCount}),6) AS avg_token_len
              |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- quality-score decile histogram (quality scoring brief item).
    // Parts materialized in their own projection (see langIdParts
    // scaladoc): the composed form inlines one token_freqs pass per
    // freqs reference.
    QueryDef(
      "tx2_quality_hist",
      (s, d) => docs(s, d)
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .select(size(col("__toks")).as("__ntok"),
          size(array_distinct(col("__toks"))).as("__ndis"),
          TextAnalysis.wordFreqs(col("__toks"), TextAnalysis.allMarkerWords)
            .as("__freqs"))
        .select(floor(TextAnalysis.qualityScoreParts(col("__ntok"), col("__ndis"),
            TextAnalysis.stopHitsFromFreqs(col("__freqs"))) * 10)
          .cast("long").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("cnt"))
        .orderBy("decile"),
      Some(s"""SELECT CAST(floor(${TS.qualityScore} * 10) AS BIGINT) AS decile, count(*) AS cnt
              |FROM documents GROUP BY 1 ORDER BY decile""".stripMargin)),

    // ----- language-ID confusion counts (language-ID brief item)
    QueryDef(
      "tx3_lang_confusion",
      (s, d) => docs(s, d)
        .select(col("lang"),
          TextAnalysis.wordFreqs(TextAnalysis.tokens(col("text")),
            TextAnalysis.allMarkerWords).as("__freqs"))
        .select(col("lang"), TextAnalysis.langIdParts(col("__freqs")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "pred"),
      Some(s"""SELECT lang, ${TS.langId} AS pred, count(*) AS cnt
              |FROM documents GROUP BY 1,2 ORDER BY lang, pred""".stripMargin)),

    // ----- document fingerprints: md5 plus the rolling polynomial
    // hash (same primitive the shingle signatures use)
    QueryDef(
      "tx4_fingerprint_sample",
      (s, d) => docs(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"),
          graft.ext.NearDup.charHash(col("text")).as("fp_roll"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5(text) AS fp,
              |${graft.ext.NearDup.Sql.charHashSql("text")} AS fp_roll
              |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin)),

    // ----- BPE-ish regex tokenization stats (brief: token counting —
    // whitespace AND regex; punct ratio is the quality signal)
    QueryDef(
      "tx5_regex_token_stats",
      (s, d) => docs(s, d)
        .select(col("source"),
          TextAnalysis.regexTokenCount(col("text")).as("rtok"),
          TextAnalysis.punctTokenCount(col("text")).as("ptok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg("rtok"), 6).as("avg_regex_tokens"),
             round(avg("ptok"), 6).as("avg_punct_tokens"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |round(avg(${TS.regexTokenCount}),6) AS avg_regex_tokens,
              |round(avg(${TS.punctTokenCount}),6) AS avg_punct_tokens
              |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- vocabulary building: explode tokens → corpus-wide term
    // frequencies, top-k with pinned tie-break (the vocab/frequency
    // table an LLM tokenizer pipeline starts from)
    QueryDef(
      "tx6_vocab_topk",
      (s, d) => docs(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(10),
      Some("""SELECT token, count(*) AS freq FROM
             |(SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY 1 ORDER BY freq DESC, token LIMIT 10""".stripMargin)),

    // ----- BPE merge-round pair counting: corpus-wide frequencies of
    // ADJACENT token pairs — the inner loop of byte-pair-encoding
    // tokenizer training (each merge round picks the argmax pair).
    // One explode + one hash agg + map-side top-k; at 100 TB this is
    // the canonical map-reduce wordcount shape, re-run per merge round
    // over ever-shorter sequences.
    QueryDef(
      "tx8_bpe_pair_counts",
      (s, d) => {
        val pairs = TextAnalysis.adjacentPairs(TextAnalysis.tokens(col("text")))
        docs(s, d)
          .select(explode(pairs).as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("pair"))
          .limit(15)
      },
      Some("""SELECT t[i] || ' ' || t[i+1] AS pair, count(*) AS freq FROM
             |(SELECT t, unnest(generate_series(1, len(t)-1)) AS i FROM
             |  (SELECT string_split(text, ' ') AS t FROM documents))
             |GROUP BY 1 ORDER BY freq DESC, pair LIMIT 15""".stripMargin)),

    // ----- iterative BPE merge training: tx8's pair count driven
    // through 6 actual merge rounds (count → merge argmax pair
    // everywhere with a pinned tie-break → recount) — the tokenizer-
    // training loop itself, reusing the CC round/checkpoint machinery.
    // The oracle is the unrolled 6-step DuckDB CTE over the identical
    // double-space corpus representation (see Bpe scaladoc for why
    // literal replace IS greedy single-pass BPE in both engines).
    QueryDef(
      "tx8b_bpe_merges",
      (s, d) => graft.ext.Bpe.trainDF(s, docs(s, d), "text", 6),
      Some(graft.ext.Bpe.trainSql(6))),

    // ----- BPE ENCODE with the pinned merge list (the serving side
    // tx8b's training feeds — what a pipeline actually runs per
    // document to budget sequence tokens): apply graft.ext.BpeModel's
    // merges in training order as literal replaces (single-pass
    // greedy, identical left-to-right semantics both engines — the
    // Bpe.train scaladoc's argument), then count symbols. Pure
    // map-side per doc (merge list is a plan literal, nothing
    // shuffles before the per-source agg); output bounded by
    // |sources|. Compression = bpe/raw tokens — the number a token
    // -budget planner consumes.
    QueryDef(
      "tx25_bpe_encode",
      (s, d) => {
        val enc = docs(s, d).select(col("source"),
          size(split(col("text"), " ")).cast("long").as("raw_toks"),
          size(split(
            graft.ext.Bpe.encodeCol(col("text"), graft.ext.BpeModel.merges),
            "  ")).cast("long").as("bpe_toks"))
        enc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("raw_toks").as("raw_tokens"),
            sum("bpe_toks").as("bpe_tokens"),
            round(sum("bpe_toks").cast("double") / sum("raw_toks"), 6)
              .as("compression"))
          .orderBy("source")
      },
      Some(s"""WITH e AS (SELECT source,
              |  len(string_split(text, ' ')) AS raw_toks,
              |  len(string_split(${graft.ext.Bpe.encodeSql("text",
                   graft.ext.BpeModel.merges)}, '  ')) AS bpe_toks
              |FROM documents)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(raw_toks) AS BIGINT) AS raw_tokens,
              |  CAST(sum(bpe_toks) AS BIGINT) AS bpe_tokens,
              |  round(CAST(sum(bpe_toks) AS DOUBLE) / sum(raw_toks), 6)
              |    AS compression
              |FROM e GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- BM25 lexical retrieval (Robertson/Zaragoza; the Lucene
    // +1-idf variant, always positive): keyword search over the
    // corpus — the curation tool behind decontamination lookups,
    // targeted quality audits, and eval-set leakage hunts, where
    // "find the documents matching THIS query" must run at corpus
    // scale without an external search service. Inverted-index
    // discipline: the explode filters to the query's terms
    // IMMEDIATELY (the term-IN predicate sits inside the posting
    // build, so the shuffle carries only matching postings — at
    // 100 TB the cost is the documents scan plus |matching postings|,
    // never |all tokens|); df and the corpus stats (N, avgdl) are
    // scalar broadcasts. Scoring order is pinned identically both
    // engines (ln + round 6, doc_id tie-break) — same float
    // discipline as tx10's ln-idf.
    QueryDef(
      "tx26_bm25",
      (s, d) => bm25Scores(docs(s, d), Seq("spark", "vector", "slow"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20),
      Some(s"""WITH ${bm25Sql("'spark', 'vector', 'slow'")}
              |SELECT doc_id, round(sum(w), 6) AS bm25, count(*)::BIGINT AS n_terms
              |FROM scored GROUP BY 1
              |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // ----- TextRank keyword extraction (Mihalcea/Tarau) — corpus
    // keywords as the stationary weight of the word co-occurrence
    // graph, [[graft.ext.PageRank]]'s integer iteration REUSED over a
    // text-derived graph (tx-family meets the g-family): adjacent
    // content-word pairs (len ≥ 4, the classic stopword proxy) become
    // symmetric edges, 3 pinned rounds of the scaled-long update rank
    // every word, top 20 emitted. Degree-hub words ≠ top ranks —
    // rank flows from DIVERSE neighborhoods, which is exactly why
    // TextRank beats raw frequency for keywords. Scale: the pair
    // explode is corpus-linear but collapses to the DISTINCT edge
    // set (vocab-bounded, ≪ corpus at any SF) BEFORE the iteration,
    // so every PageRank round runs on the vocabulary graph, not the
    // token stream; ranks are exact longs ⇒ the oracle replays the
    // iteration via PageRank.Sql's unrolled CTE. The zip_with/slice
    // pair build is a HOF (interpreted — tx9's documented trade;
    // acceptable off the bench path, and the explode feeds straight
    // into a DISTINCT so nothing wide survives it).
    QueryDef(
      "tx27_textrank",
      (s, d) => {
        val toks = split(col("text"), " ")
        val pairs = docs(s, d)
          .select(explode(zip_with(
            slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
            slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
            (a, b) => struct(a.as("u"), b.as("v")))).as("p"))
          .select(col("p.u").as("u"), col("p.v").as("v"))
          .filter(length(col("u")) >= 4 && length(col("v")) >= 4 &&
            col("u") =!= col("v"))
        val edges = pairs.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(pairs.select(col("v").as("src"), col("u").as("dst")))
          .distinct()
        graft.ext.PageRank.ranks(edges, 3)
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
          .select(col("node").as("word"), col("rank"))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
              |tok AS MATERIALIZED (SELECT doc_id, unnest(a) AS w,
              |  generate_subscripts(a, 1) AS i FROM t),
              |pr AS MATERIALIZED (SELECT x.w AS u, y.w AS v
              |  FROM tok x JOIN tok y ON x.doc_id = y.doc_id AND y.i = x.i + 1
              |  WHERE len(x.w) >= 4 AND len(y.w) >= 4 AND x.w <> y.w),
              |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
              |  SELECT u AS src, v AS dst FROM pr
              |  UNION ALL SELECT v, u FROM pr)),
              |${graft.ext.PageRank.Sql.rounds(3)}
              |SELECT node AS word, rank FROM r3
              |ORDER BY rank DESC, word LIMIT 20""".stripMargin)),

    // ----- classifier eval metrics at corpus scale (the
    // precision/recall/F1 sheet every gate ships with — tx20 proves
    // the learned gate SCORES exactly; this proves the engine can
    // EVALUATE it against a reference labeling without leaving
    // Spark): predictions = the pinned logreg gate (score > 0),
    // reference = the heuristic quality label the fit bootstrapped
    // from (q above corpus median — the seed-label discipline of
    // QualityClassifier.fit). One corpus scan computes both signals
    // per row, the median is a 1-row broadcast (w7's exact-percentile
    // pattern), and the confusion counts collapse everything to FOUR
    // longs before any ratio — precision/recall/F1/accuracy are each
    // ONE long-ratio division then round 6 (F1 as 2tp/(2tp+fp+fn),
    // never the precision·recall float composition), with NULLIF
    // pinning the degenerate zero-denominator case to NULL on both
    // engines.
    QueryDef(
      "tx28_eval_metrics",
      (s, d) => {
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val c = QualityClassifier.withQualityMedian(base)
          .select((col("score") > 0).as("pred"),
            (col("q") > col("__med")).as("label"))
          .agg(
            sum(when(col("pred") && col("label"), 1L).otherwise(0L)).as("tp"),
            sum(when(col("pred") && !col("label"), 1L).otherwise(0L)).as("fp"),
            sum(when(!col("pred") && col("label"), 1L).otherwise(0L)).as("fn"),
            sum(when(!col("pred") && !col("label"), 1L).otherwise(0L)).as("tn"))
        c.select(col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") /
            expr("nullif(tp + fp, 0)"), 6).as("prec"),
          round(col("tp").cast("double") /
            expr("nullif(tp + fn, 0)"), 6).as("recall"),
          round((col("tp") * 2).cast("double") /
            expr("nullif(tp * 2 + fp + fn, 0)"), 6).as("f1"),
          round((col("tp") + col("tn")).cast("double") /
            (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"))
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
              |c AS (SELECT
              |  CAST(sum(CASE WHEN pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |  CAST(sum(CASE WHEN pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |  CAST(sum(CASE WHEN NOT pred AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |  CAST(sum(CASE WHEN NOT pred AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
              |  FROM (SELECT score > 0 AS pred,
              |          q > (SELECT m FROM med) AS label FROM t))
              |SELECT tp, fp, fn, tn,
              |  round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS prec,
              |  round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall,
              |  round(CAST(tp * 2 AS DOUBLE) / NULLIF(tp * 2 + fp + fn, 0), 6) AS f1,
              |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
              |FROM c""".stripMargin)),

    // ----- classifier calibration curve (reliability diagram data —
    // tx28 says how often the gate is right; this says whether its
    // SCORE means anything, i.e. do higher-scored buckets actually
    // contain more positives, which is what threshold tuning and
    // score-weighted sampling consume): ten equal-WIDTH score buckets
    // between the corpus min and max — fixed arithmetic bucketing
    // from two 1-row broadcasts, NOT ntile (an exact decile needs a
    // global sort; the reliability literature's equal-width variant
    // needs only min/max, identical IEEE both engines, and keeps the
    // pass map-side) — then per bucket the positive RATE (exact long
    // ratio) vs the mean score (6-dp avg). Monotone rate-vs-bucket ⇒
    // well-calibrated ordering; bucket counts expose where the score
    // mass sits. Output ≤ 10 rows at any corpus scale.
    QueryDef(
      "tx29_calibration",
      (s, d) => {
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val ext = base.agg(min("score").as("__lo"), max("score").as("__hi"))
        QualityClassifier.withQualityMedian(base).crossJoin(broadcast(ext))
          .filter(col("__hi") > col("__lo"))
          .select(
            least(floor((col("score") - col("__lo")) * 10.0 /
              (col("__hi") - col("__lo"))), lit(9.0)).cast("long").as("bucket"),
            col("score"), (col("q") > col("__med")).as("label"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(avg("score"), 6).as("mean_score"),
            sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
          .withColumn("pos_rate",
            round(col("n_pos").cast("double") / col("n"), 6))
          .orderBy("bucket")
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
              |ext AS (SELECT min(score) AS lo, max(score) AS hi FROM t)
              |SELECT CAST(least(floor((score - (SELECT lo FROM ext)) * 10.0 /
              |    ((SELECT hi FROM ext) - (SELECT lo FROM ext))), 9.0) AS BIGINT) AS bucket,
              |  count(*) AS n,
              |  round(avg(score), 6) AS mean_score,
              |  CAST(sum(CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              |  round(CAST(sum(CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END) AS DOUBLE)
              |    / count(*), 6) AS pos_rate
              |FROM t WHERE (SELECT hi FROM ext) > (SELECT lo FROM ext)
              |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // ----- Gopher/C4-style repetition filter: per-doc repeated-token
    // and repeated-2-gram ratios (boilerplate/looped-phrase signal),
    // aggregated per source with the count a threshold gate would
    // drop. Both ratios are per-row array arithmetic (the 2-gram
    // transform is a HOF, i.e. interpreted — acceptable off the bench
    // path; the native one-pass alternative is shingle_hash_set) —
    // nothing but the (source, two doubles) triple reaches the agg
    // shuffle, so the 100 TB cost is the documents scan itself.
    // Threshold 0.05 is
    // calibrated to the fixture's measured dup2 distribution
    // (median 0.028, max 0.133) so the gate actually discriminates.
    QueryDef(
      "tx9_repetition_filter",
      (s, d) => docs(s, d)
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .select(col("source"),
          TextAnalysis.dupTokenRatio(col("__toks")).as("dup_tok"),
          TextAnalysis.dup2gramRatio(col("__toks")).as("dup2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             round(avg("dup_tok"), 6).as("avg_dup_token_ratio"),
             round(avg("dup2"), 6).as("avg_dup_2gram_ratio"),
             sum(when(col("dup2") > 0.05, 1L).otherwise(0L)).as("n_flagged"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |round(avg(${TS.dupTokenRatio}),6) AS avg_dup_token_ratio,
              |round(avg(${TS.dup2gramRatio}),6) AS avg_dup_2gram_ratio,
              |CAST(sum(CASE WHEN ${TS.dup2gramRatio} > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
              |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- TF-IDF top terms per source: the classic two-pass weighting
    // (term frequency × inverse document frequency) that powers
    // source-level topic fingerprinting and keyword-based curation.
    // Scale shape: a per-(term, doc) count is the shared grain — tf
    // re-aggs it by (source, term), doc frequency as plain row counts
    // per term (the (term, doc_id) grain is already distinct; doc_id
    // is the PK, so rows-per-term = docs-per-term). The grain is
    // RECOMPUTED per side, not persisted: measured back-to-back at 8×
    // (DevStress), persist 9.1 s vs recompute 8.6 s — partial
    // aggregation already shrinks each side's shuffle, so the cache
    // build is pure overhead (same lesson as tx12). The df side is
    // |vocab| rows (tiny vs the corpus → broadcast join), and the
    // per-source top-k runs through WindowGroupLimit map-side. Ranking
    // uses the ROUNDED score with a term tie-break so both engines
    // order identically.
    QueryDef(
      "tx10_tfidf_top_terms",
      (s, d) => {
        val base = docs(s, d)
        val nDocs = base.select(count(lit(1)).as("__n"))
        val perTermDoc = base
          .select(col("source"), col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy("term", "doc_id", "source")
          .agg(count(lit(1)).as("__c"))
        val tf = perTermDoc.groupBy("source", "term")
          .agg(sum("__c").as("tf"))
        val df = perTermDoc
          .groupBy("term").agg(count(lit(1)).as("__df"))
        val w = Window.partitionBy("source")
          .orderBy(col("tfidf").desc, col("term"))
        tf.join(broadcast(df), Seq("term"))
          .crossJoin(broadcast(nDocs))
          .withColumn("tfidf",
            round(col("tf") * log(col("__n").cast("double") / col("__df")), 6))
          .withColumn("__rk", row_number().over(w))
          .filter(col("__rk") <= 5)
          .select(col("source"), col("term"), col("tfidf"))
          .orderBy(col("source"), col("tfidf").desc, col("term"))
      },
      Some("""WITH toks AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
             |  FROM documents),
             |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
             |scored AS (SELECT source, tf.term AS term,
             |  round(tf * ln((SELECT n FROM n) / df), 6) AS tfidf
             |  FROM tf JOIN df ON tf.term = df.term)
             |SELECT source, term, tfidf FROM
             |(SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rk
             | FROM scored)
             |WHERE rk <= 5 ORDER BY source, tfidf DESC, term""".stripMargin)),

    // ----- overlapping-window document chunking: 32-token chunks at
    // stride 24 (8-token overlap) — the context-window prep op for
    // embedding / training pipelines. Chunk construction is per-row
    // array arithmetic (transform over a sequence of starts + slice),
    // so the only distributed cost is the posexplode row fan-out
    // (~ntok/stride rows per doc); chunks are emitted as md5
    // fingerprints + token counts, never re-joined. Both engines slice
    // 1-indexed truncate-at-end, and `split` on empty text yields [""]
    // (one token), so every doc emits ≥1 chunk — no empty-sequence
    // guard needed.
    QueryDef(
      "tx11_chunk_overlap",
      (s, d) => {
        val chunks = TextAnalysis.overlappingChunks(
          TextAnalysis.tokens(col("text")), ChunkSize, ChunkStride)
        docs(s, d)
          .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk")).as("chunk_ntok"),
            md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |c AS (SELECT doc_id, $chunkIdxSql AS chunk_idx, toks FROM t)
              |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
              |  CAST(len(${chunkSliceSql("chunk_idx")}) AS INT) AS chunk_ntok,
              |  md5(array_to_string(${chunkSliceSql("chunk_idx")}, ' ')) AS chunk_fp
              |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ----- bigram-LM scoring (KenLM-lite perplexity filter): train
    // bigram/unigram counts on the corpus, score each doc by its mean
    // adjacent-pair log-probability ln(c(w1 w2)/c(w1)), aggregate per
    // source with the count a fluency gate would drop (threshold −3.45
    // ≈ the fixture's 5th percentile — measured range [−3.66, −3.28] —
    // so the gate discriminates). Self-trained, so every pair has
    // count ≥ 1 — no smoothing needed and the
    // arithmetic is exact in both engines. Scale shape: the model is
    // re-derived from a SECOND cheap map-side explode of the same scan
    // rather than a materialized shared stream — measured at 8×
    // (DevStress, 40 k docs / ~12 M pairs): recompute 9.9 s vs 15.8 s
    // for the persist-and-pre-agg variant, whose per-(doc, pair)
    // string-key shuffle + cache build cost more than the explode it
    // saved (the tx10 pattern pays off only when the re-derivation is
    // EXPENSIVE, not a flat explode). The bigram model is
    // |vocab|²-bounded rows keyed by pair — a uniform hash shuffle
    // join at real vocab sizes (broadcast here via AQE); the unigram
    // side is |vocab| rows, always broadcast. Pair keys are zipfian
    // (a few stop-word bigrams dominate), so the shuffle-join regime
    // leans on AQE's skew split (enabled in Sessions, proven firing by
    // AqeSkewJoinSpec) rather than manual salting.
    QueryDef(
      "tx12_bigram_lm_score",
      (s, d) => {
        val base = docs(s, d)
        val pairsOf = TextAnalysis.adjacentPairs(TextAnalysis.tokens(col("text")))
        val exploded = base
          .select(col("doc_id"), col("source"), explode(pairsOf).as("pair"))
        val bi = exploded.groupBy("pair").agg(count(lit(1)).as("__c2"))
        val uni = base
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("__c1"))
        val perDoc = exploded
          .withColumn("w1", substring_index(col("pair"), " ", 1))
          .join(bi, Seq("pair"))
          .join(broadcast(uni), col("w1") === col("w"))
          .groupBy("doc_id", "source")
          // per-doc lp rounded to 6dp BEFORE the gate + rollup, so a
          // last-bit cross-engine avg difference can't flip a doc
          // across the threshold or perturb the source-level mean
          .agg(round(avg(log(col("__c2").cast("double") / col("__c1"))), 6).as("lp"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               round(avg("lp"), 6).as("avg_logprob"),
               sum(when(col("lp") < -3.45, 1L).otherwise(0L)).as("n_flagged"))
          .orderBy("source")
      },
      Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, source, toks[i] || ' ' || toks[i+1] AS pair,
             |        toks[i] AS w1
             |      FROM (SELECT doc_id, source, toks,
             |              unnest(generate_series(1, len(toks)-1)) AS i FROM t)),
             |bi AS (SELECT pair, count(*) AS c2 FROM p GROUP BY 1),
             |uni AS (SELECT w, count(*) AS c1 FROM
             |        (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
             |perdoc AS (SELECT doc_id, source, round(avg(ln(c2::DOUBLE / c1)), 6) AS lp
             |  FROM p JOIN bi USING (pair) JOIN uni ON p.w1 = uni.w
             |  GROUP BY 1, 2)
             |SELECT source, count(*) AS n_docs, round(avg(lp), 6) AS avg_logprob,
             |  CAST(sum(CASE WHEN lp < -3.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
             |FROM perdoc GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- passage-level dedup: chunk the corpus (tx11's 32/24
    // windows), fingerprint every chunk, and report the global dedup
    // savings — repeated PASSAGES (boilerplate headers, licence
    // blocks) that whole-document dedup cannot see. The ingest plants
    // boilerplate deterministically (every 5th doc re-arrives under a
    // fresh id, so all its chunks duplicate). One md5-key hash shuffle
    // over chunk fingerprints — same uniform-key arithmetic as exact
    // doc dedup, at ~ntok/stride × the row count.
    QueryDef(
      "tx13_passage_dedup",
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val ingest = base.unionAll(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
        val chunks = TextAnalysis.overlappingChunks(
          TextAnalysis.tokens(col("text")), ChunkSize, ChunkStride)
        val fps = ingest
          .select(explode(chunks).as("chunk"))
          .select(md5(concat_ws(" ", col("chunk"))).as("fp"))
        fps.agg(count(lit(1)).as("n_chunks"),
            countDistinct(col("fp")).as("n_distinct_passages"))
          .select(col("n_chunks"), col("n_distinct_passages"),
            (col("n_chunks") - col("n_distinct_passages")).as("n_removed"))
      },
      Some(s"""WITH ingest AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 5 = 0),
              |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ingest),
              |c AS (SELECT md5(array_to_string(${chunkSliceSql("chunk_idx")}, ' ')) AS fp
              |      FROM (SELECT toks, $chunkIdxSql AS chunk_idx FROM t))
              |SELECT count(*) AS n_chunks,
              |  count(DISTINCT fp) AS n_distinct_passages,
              |  count(*) - count(DISTINCT fp) AS n_removed
              |FROM c""".stripMargin)),

    // ----- cross-document duplicated-n-gram coverage: per doc, the
    // fraction of 8-gram positions whose gram also appears in ANOTHER
    // document — the substring-level contamination signal (Lee et
    // al.'s dedup granularity) that passage dedup (tx13, fixed 32/24
    // windows) quantizes away and whole-doc near-dup never sees.
    // Per-position grams (the positional shingle-hash list, k=8) keep
    // multiplicity, so coverage counts POSITIONS, not gram types;
    // "duplicated" = present in ≥ 2 distinct docs (within-doc repeats
    // are tx9's repetition signal, deliberately excluded here). The
    // ingest plants cross-doc duplication deterministically (every
    // 5th doc re-arrives under a fresh id — tx13's re-crawl, so the
    // two signals are comparable on the same corpus). Scale shape:
    // one shuffle on the 8-byte gram hash (uniform keys — counts, no
    // pair enumeration, so no df cap needed), one on doc_id; at 100 TB
    // both are plain uniform-key aggs over N·ntok rows. All-integer
    // counts; the fraction is one divide+round.
    QueryDef(
      "tx22_dup_ngram_coverage",
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val ingest = base.unionAll(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
        val grams = ingest.select(col("doc_id"),
          explode(graft.ext.NearDup.shingleHashList(
            TextAnalysis.tokens(col("text")), DupGramK)).as("g"))
        val perDocGram = grams.groupBy("doc_id", "g")
          .agg(count(lit(1)).as("c"))
        val gramDocs = perDocGram.groupBy("g")
          .agg(count(lit(1)).as("nd"))
        val perDoc = perDocGram.join(gramDocs, Seq("g"))
          .groupBy("doc_id")
          .agg(sum("c").as("n_pos"),
               sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L))).as("n_dup_pos"))
          .withColumn("dup_frac",
            round(col("n_dup_pos").cast("double") / col("n_pos"), 6))
        perDoc.groupBy()
          .agg(count(lit(1)).as("n_docs"),
               sum(when(col("dup_frac") >= 0.5, 1L).otherwise(0L)).as("n_flagged"),
               round(avg("dup_frac"), 6).as("avg_dup_frac"),
               sum("n_dup_pos").as("total_dup_pos"))
      },
      Some(s"""WITH ingest AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 5 = 0),
              |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ingest),
              |grams AS (SELECT doc_id,
              |  unnest(${graft.ext.NearDup.Sql.shingleHashList(DupGramK)}) AS g FROM t),
              |pdg AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM grams GROUP BY 1, 2),
              |gd AS (SELECT g, count(*)::BIGINT AS nd FROM pdg GROUP BY 1),
              |perdoc AS (SELECT doc_id,
              |    CAST(sum(c) AS BIGINT) AS n_pos,
              |    CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_pos
              |  FROM pdg JOIN gd USING (g) GROUP BY 1),
              |scored AS (SELECT doc_id, n_pos, n_dup_pos,
              |    round(CAST(n_dup_pos AS DOUBLE) / n_pos, 6) AS dup_frac
              |  FROM perdoc)
              |SELECT count(*) AS n_docs,
              |  CAST(sum(CASE WHEN dup_frac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
              |  round(avg(dup_frac), 6) AS avg_dup_frac,
              |  CAST(sum(n_dup_pos) AS BIGINT) AS total_dup_pos
              |FROM scored""".stripMargin)),

    // ----- PII detection + scrubbing: count email-shaped substrings
    // per source and prove the redaction leaves zero residual — the
    // compliance pass every published training corpus runs. The
    // pattern uses only character classes so Java (Spark) and RE2
    // (DuckDB) agree; the fixture has no natural matches, so every 7th
    // doc gets an id-derived address planted deterministically
    // (mirrored in the oracle). Pure per-row regex work — only
    // (source, three small counts) reaches the shuffle.
    QueryDef(
      "tx14_pii_scrub",
      (s, d) => {
        val pii = PiiPattern
        val ingest = docs(s, d).select(col("doc_id"), col("source"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact u"),
              col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(col("text")).as("text"))
        ingest
          .select(col("source"),
            size(regexp_extract_all(col("text"), lit(pii), lit(0))).as("n_pii"),
            size(regexp_extract_all(
              regexp_replace(col("text"), pii, "<EMAIL>"),
              lit(pii), lit(0))).as("n_residual"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_pii").cast("long")).as("total_pii"),
               sum(when(col("n_pii") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
               sum(col("n_residual").cast("long")).as("residual_after_scrub"))
          .orderBy("source")
      },
      Some(s"""WITH ingest AS (SELECT source,
              |  CASE WHEN doc_id % 7 = 0
              |    THEN text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
              |    ELSE text END AS text
              |  FROM documents),
              |c AS (SELECT source,
              |  len(regexp_extract_all(text, '$PiiPattern')) AS n_pii,
              |  len(regexp_extract_all(
              |    regexp_replace(text, '$PiiPattern', '<EMAIL>', 'g'),
              |    '$PiiPattern')) AS n_residual
              |  FROM ingest)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_pii) AS BIGINT) AS total_pii,
             |  CAST(sum(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
             |  CAST(sum(n_residual) AS BIGINT) AS residual_after_scrub
             |FROM c GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- vocabulary coverage / OOV rate: build the top-K vocab
    // in-query (tx6's shape, pinned tie-break), broadcast it back, and
    // report per-source out-of-vocabulary rates — the tokenizer-eval
    // number that decides whether a vocab generalizes across sources.
    // The vocab is a K-row broadcast at any corpus size; the token
    // stream joins map-side and only (source, two counts) shuffles.
    QueryDef(
      "tx15_oov_rate",
      (s, d) => {
        val exploded = docs(s, d)
          .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("token"))
        val vocab = exploded.groupBy("token").agg(count(lit(1)).as("freq"))
          .orderBy(col("freq").desc, col("token"))
          .limit(10)
          .select(col("token"), lit(1).as("__in"))
        exploded.join(broadcast(vocab), Seq("token"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("total_tokens"),
               sum(when(col("__in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
          .withColumn("oov_rate",
            round(col("oov_tokens").cast("double") / col("total_tokens"), 6))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token
             |  FROM documents),
             |vocab AS (SELECT token FROM
             |  (SELECT token, count(*) AS freq FROM toks GROUP BY 1
             |   ORDER BY freq DESC, token LIMIT 10)),
             |j AS (SELECT source,
             |  CASE WHEN token IN (SELECT token FROM vocab) THEN 0 ELSE 1 END AS oov
             |  FROM toks)
             |SELECT source, count(*) AS total_tokens,
             |  CAST(sum(oov) AS BIGINT) AS oov_tokens,
             |  round(CAST(sum(oov) AS DOUBLE) / count(*), 6) AS oov_rate
             |FROM j GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- temperature-scaled mixture sampling (the XLM-R/mT5
    // multilingual rebalancing op): per-group keep rates computed FROM
    // the data as min(1, C/√n) — temperature α=0.5 upsampling of small
    // groups — then applied as a deterministic content-hash gate.
    // α=0.5 deliberately: sqrt/divide are IEEE correctly-rounded in
    // both engines, so the data-derived rate and its integer threshold
    // are bit-identical cross-engine (a pow-based α like 0.7 is NOT
    // correctly rounded in libm and could flip a threshold). Groups
    // come from bit-length of doc_id+1 — exact integer logic giving
    // genuinely nonuniform sizes (1, 2, 4, … 2^k) on any fixture.
    // Scale shape: rates are a |groups|-row broadcast; the corpus
    // streams map-side through the hash gate — one agg shuffle total.
    QueryDef(
      "tx16_temperature_mixture",
      (s, d) => {
        val base = docs(s, d)
          .select(length(bin(col("doc_id") + 1)).as("g"), col("text"))
        val rates = base.groupBy("g").agg(count(lit(1)).as("n"))
          .withColumn("rate", least(lit(1.0), lit(16.0) / sqrt(col("n"))))
          .withColumn("thresh", floor(col("rate") * 1000000.0).cast("long"))
        base.join(broadcast(rates), Seq("g"))
          .withColumn("__keep",
            TextAnalysis.hashBucket(col("text"), 1000000) < col("thresh"))
          .groupBy("g")
          .agg(count(lit(1)).as("n_docs"),
               count(when(col("__keep"), 1)).as("n_sampled"),
               round(max("rate"), 6).as("rate"))
          .orderBy("g")
      },
      Some(s"""WITH d AS (SELECT CAST(length(bin(CAST(doc_id + 1 AS BIGINT))) AS INT) AS g,
              |    text FROM documents),
              |rates AS (SELECT g, least(1.0, 16.0 / sqrt(n)) AS rate,
              |    CAST(floor(least(1.0, 16.0 / sqrt(n)) * 1000000.0) AS BIGINT) AS thresh
              |  FROM (SELECT g, count(*) AS n FROM d GROUP BY 1)),
              |j AS (SELECT d.g, ${TS.hashBucket(1000000)} < thresh AS keep, rate
              |  FROM d JOIN rates USING (g))
              |SELECT g, count(*) AS n_docs,
              |  count(*) FILTER (keep) AS n_sampled,
              |  round(max(rate), 6) AS rate
              |FROM j GROUP BY 1 ORDER BY g""".stripMargin)),

    // ----- epoch-weighted oversampling (the Llama-style mixture
    // complement of tx16, which only DOWN-samples): sources with
    // weight > 1 repeat — epochs — with the fractional epoch applied
    // as a deterministic content-hash gate (weight 2.25 = every doc
    // twice, hash-selected 25% a third time). Weights are integer
    // (whole, millage) pairs derived from the source index, so the
    // repeat count is pure integer arithmetic — exact cross-engine,
    // no float thresholds. The repeat itself materializes via
    // explode(sequence(1, reps)) — a map-side fan-out, no shuffle
    // until the summary agg; at 100 TB the exploded epoch column is
    // what a writer would partition the training shards by.
    QueryDef(
      "tx17_epoch_oversample",
      (s, d) => {
        val srcN = regexp_extract(col("source"), "\\d+", 0).cast("int")
        val whole = lit(1) + pmod(srcN, lit(3))
        val fracMille = pmod(srcN, lit(4)) * lit(250)
        docs(s, d)
          .withColumn("reps",
            whole + when(TextAnalysis.hashBucket(col("text"), 1000) < fracMille, 1)
              .otherwise(0))
          .withColumn("ntok", TextAnalysis.tokenCount(col("text")).cast("long"))
          .select(col("source"), col("ntok"),
            explode(sequence(lit(1), col("reps"))).as("epoch"))
          .groupBy("source", "epoch")
          .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
          .orderBy("source", "epoch")
      },
      Some(s"""WITH d AS (
              |  SELECT source, ${TS.tokenCount} AS ntok,
              |    1 + CAST(regexp_extract(source, '\\d+') AS INT) % 3
              |      + CASE WHEN ${TS.hashBucket(1000)}
              |          < CAST(regexp_extract(source, '\\d+') AS INT) % 4 * 250
              |        THEN 1 ELSE 0 END AS reps
              |  FROM documents),
              |e AS (SELECT source, ntok, unnest(generate_series(1, reps)) AS epoch FROM d)
              |SELECT source, CAST(epoch AS INT) AS epoch, count(*) AS n_docs,
              |  CAST(sum(ntok) AS BIGINT) AS n_tokens
              |FROM e GROUP BY 1, 2 ORDER BY source, epoch""".stripMargin)),

    // ----- curriculum quality binning: per-source quartiles of the
    // quality score via ntile — the curriculum-learning prep op
    // (train on high bins first / anneal mixture by bin). One shuffle
    // on source + partition sort; the score is pre-rounded so the
    // cross-engine ordering (q, doc_id) is exact, and ntile's
    // equal-fill remainder rule is the same in both engines.
    QueryDef(
      "tx18_quality_curriculum",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy(col("q"), col("doc_id"))
        docs(s, d)
          .select(col("source"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q"))
          .withColumn("bin", ntile(4).over(w))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
               round(min("q"), 6).as("min_q"),
               round(max("q"), 6).as("max_q"))
          .orderBy("source", "bin")
      },
      Some(s"""SELECT source, CAST(bin AS INT) AS bin, count(*) AS n_docs,
              |  round(min(q), 6) AS min_q, round(max(q), 6) AS max_q FROM
              |(SELECT source, doc_id, q,
              |   ntile(4) OVER (PARTITION BY source ORDER BY q, doc_id) AS bin FROM
              | (SELECT source, doc_id, ${TS.qualityScore} AS q FROM documents))
              |GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // ----- deterministic shard manifest: each source-shard's docs in
    // a content-hash-shuffled order (reproducible "random" order
    // without RNG state — re-runs and re-shards agree), fingerprinted
    // as md5 of the joined id sequence. The manifest hash is what a
    // training job logs to prove two runs consumed identical shards in
    // identical order. Per-shard collect is bounded by shard sizing
    // (a writer would stream the same ordering via sortWithinPartitions
    // at real scale; the manifest agg is the registered check).
    QueryDef(
      "tx19_shard_manifest",
      (s, d) => docs(s, d)
        .select(col("source"), col("doc_id"),
          TextAnalysis.hashBucket(col("text"), 1000000).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          md5(array_join(transform(
            sort_array(collect_list(struct(col("h"), col("doc_id").as("id")))),
            x => x.getField("id").cast("string")), ",")).as("manifest"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h, doc_id)) AS manifest
              |FROM (SELECT source, doc_id, ${TS.hashBucket(1000000)} AS h FROM documents)
              |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- learned quality gate: the pinned logreg artifact
    // (QualityClassifierModel, fit offline by DevFitQualityClassifier
    // on seed labels distilled from the heuristic score) served as a
    // linear gate — score is the LOGIT (score > 0 ⇔ p > 0.5), so
    // serving is pure multiply-add: bit-identical cross-engine on the
    // shared weight strings, no libm exp anywhere. Scale shape: one
    // token_freqs pass per doc feeds an 18-term fold; only (source,
    // score) reaches the agg shuffle. Min/max are order-independent,
    // n_pass is an integer count — hash-exact by construction.
    QueryDef(
      "tx20_classifier_gate",
      (s, d) => docs(s, d)
        .withColumn("__toks", TextAnalysis.tokens(col("text")))
        .select(col("source"),
          size(col("__toks")).as("__ntok"),
          size(array_distinct(col("__toks"))).as("__ndis"),
          TextAnalysis.wordFreqs(col("__toks"),
            QualityClassifier.featureWords).as("__freqs"))
        .select(col("source"),
          QualityClassifier.scoreParts(
            col("__ntok"), col("__ndis"), col("__freqs")).as("score"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pass"),
             round(min("score"), 6).as("min_score"),
             round(max("score"), 6).as("max_score"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
              |  round(min(score), 6) AS min_score,
              |  round(max(score), 6) AS max_score
              |FROM (SELECT source, ${QualityClassifier.Sql.scoreSql} AS score
              |      FROM documents)
              |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- the real pivot() API over a closed value set (P8's
    // dynamic-wide-count shape as a first-class relational op)
    QueryDef(
      "p8b_pivot_api",
      (s, d) => docs(s, d)
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("source"),
      Some("""SELECT source,
             |CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
             |CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
             |CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
             |CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
             |CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
             |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- unpivot/melt: the inverse reshape (wide → long), mirrored
    // by a UNION ALL oracle
    QueryDef(
      "p8c_unpivot_api",
      (s, d) => docs(s, d)
        .groupBy("source")
        .agg(sum(when(col("lang") === "en", 1).otherwise(0)).as("en"),
             sum(when(col("lang") === "de", 1).otherwise(0)).as("de"))
        .unpivot(Array(col("source")), Array(col("en"), col("de")), "lang", "cnt")
        .orderBy("source", "lang"),
      Some("""SELECT source, lang, cnt FROM (
             |  SELECT source, 'en' AS lang,
             |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt
             |  FROM documents GROUP BY source
             |  UNION ALL
             |  SELECT source, 'de' AS lang,
             |    CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS cnt
             |  FROM documents GROUP BY source)
             |ORDER BY source, lang""".stripMargin)),

    // ----- map-typed metadata access (the multimodal meta map as a
    // query surface: element_at over map<string,string>)
    QueryDef(
      "m3_meta_map_access",
      (s, d) => graft.ext.Multimodal.fromDocuments(docs(s, d))
        .select(element_at(col("meta"), "lang").as("meta_lang"),
                element_at(col("meta"), "source").as("meta_source"))
        .groupBy("meta_lang", "meta_source").agg(count(lit(1)).as("cnt"))
        .orderBy("meta_lang", "meta_source"),
      Some("""SELECT lang AS meta_lang, source AS meta_source, count(*) AS cnt
             |FROM documents GROUP BY 1,2 ORDER BY meta_lang, meta_source""".stripMargin)),

    // ----- set operations (INTERSECT / EXCEPT / UNION ALL)
    QueryDef(
      "set_ops_customer_orders",
      (s, d) => {
        val custs = graft.sources.Tables.table(s, d, "customer").select(col("c_custkey").as("k"))
        val buyers = graft.sources.Tables.table(s, d, "orders").select(col("o_custkey").as("k"))
        val withOrders = custs.intersect(buyers)
          .agg(count(lit(1)).as("cnt")).withColumn("segment", lit("with_orders"))
        val withoutOrders = custs.except(buyers)
          .agg(count(lit(1)).as("cnt")).withColumn("segment", lit("without_orders"))
        withOrders.unionAll(withoutOrders)
          .select("segment", "cnt").orderBy("segment")
      },
      Some("""SELECT * FROM (
             |SELECT 'with_orders' AS segment, count(*) AS cnt FROM
             |  (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT 'without_orders' AS segment, count(*) AS cnt FROM
             |  (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders))
             |ORDER BY segment""".stripMargin)),

    // ----- exact-dedup summary over a deliberately doubled corpus
    // (the test corpus has no native dups; UNION ALL with itself makes
    // every doc a dup pair so the counts are non-trivial)
    QueryDef(
      "dedup_exact_summary",
      (s, d) => {
        val base = docs(s, d)
        Dedup.exactSummary(base.unionAll(base), TextAnalysis.fingerprint(col("text")))
      },
      Some("""SELECT CAST(sum(c) AS BIGINT) AS n_rows, count(*) AS n_unique,
             |CAST(sum(c) - count(*) AS BIGINT) AS n_dup_rows FROM
             |(SELECT md5(text) AS fp, count(*) AS c FROM
             |  (SELECT text FROM documents UNION ALL SELECT text FROM documents)
             | GROUP BY 1)""".stripMargin)),

    // ----- exact keep-first dedup: doubled corpus collapses back to 500
    QueryDef(
      "dedup_exact_keep_first",
      (s, d) => {
        val base = docs(s, d)
        Dedup.exactKeepFirst(base.unionAll(base),
            Seq(TextAnalysis.fingerprint(col("text"))), Seq(col("doc_id")))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM
             |(SELECT doc_id, lang, source,
             |  row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM
             |  (SELECT * FROM documents UNION ALL SELECT * FROM documents))
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ----- HLL++ distinct estimate. Sketch INTERNALS differ across
    // engines (the estimate itself can never hash-match DuckDB), but
    // the sketch's defining guarantee is oracle-checkable: emit the
    // exact side plus an engine-computed `within_bound` — |approx −
    // exact| ≤ 5·rsd·exact, a 5σ bound on HLL++'s relative standard
    // deviation (deterministic here: HLL hashing has no run-to-run
    // randomness) — and let DuckDB mirror the exact columns and the
    // literal `true`. The exact countDistinct exists to GATE the
    // sketch; the production triage path remains Dedup.approxDistinct
    // alone (constant memory, no exact shuffle).
    QueryDef(
      "dedup_approx_distinct",
      (s, d) => {
        val rsd = 0.05
        // the PRODUCTION helper builds the sketch side — this query
        // wraps it with the exact side + bound so the gated path is
        // the same code a triage run calls
        Dedup.approxDistinct(docs(s, d), col("text"), rsd)
          .crossJoin(docs(s, d).agg(countDistinct(col("text")).as("n_unique")))
          .select(col("n_rows"), col("n_unique"),
            (abs(col("approx_unique") - col("n_unique")).cast("double")
              <= col("n_unique") * lit(5 * rsd)).as("within_bound"))
      },
      Some("""SELECT count(*) AS n_rows, count(DISTINCT text) AS n_unique,
             |true AS within_bound FROM documents""".stripMargin)),

    // ----- deterministic train/validation/test split (80/10/10) by
    // content hash — reproducible and re-shard-stable, verified
    // bit-identical against the DuckDB mirror of the same polynomial
    // hash. The split is a map-side projection: no shuffle until the
    // summary aggregation, and at 100 TB the assignment would simply
    // be a partition column on write.
    QueryDef(
      "split_train_holdout",
      (s, d) => docs(s, d)
        .withColumn("__b", TextAnalysis.hashBucket(col("text"), 100))
        .withColumn("split",
          when(col("__b") < 80, "train")
            .when(col("__b") < 90, "validation")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"))
        .orderBy("split"),
      Some(s"""SELECT split, count(*) AS n_docs,
              |CAST(sum(${TS.tokenCount}) AS BIGINT) AS total_tokens FROM
              |(SELECT text, CASE WHEN b < 80 THEN 'train'
              |  WHEN b < 90 THEN 'validation' ELSE 'test' END AS split FROM
              | (SELECT text, ${TS.hashBucket(100)} AS b FROM documents))
              |GROUP BY 1 ORDER BY split""".stripMargin)),

    // ----- stratified deterministic sampling: a reproducible ~10%
    // slice per source stratum via the same content-hash primitive
    // (eval-set carving / debugging slices at corpus scale)
    QueryDef(
      "sample_stratified",
      (s, d) => docs(s, d)
        .withColumn("__keep", TextAnalysis.hashBucket(col("text"), 10) === 0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
             count(when(col("__keep"), 1)).as("n_sampled"),
             round(count(when(col("__keep"), 1)).cast("double") / count(lit(1)), 6).as("rate"))
        .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_docs,
              |count(*) FILTER (keep) AS n_sampled,
              |round(CAST(count(*) FILTER (keep) AS DOUBLE) / count(*), 6) AS rate FROM
              |(SELECT source, ${TS.hashBucket(10)} = 0 AS keep FROM documents)
              |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- per-source document cap (domain balancing): keep each
    // source's top-10 docs by quality, rank ties broken on doc_id.
    // The window is rank-then-filter, which Spark plans as
    // WindowGroupLimit — the per-partition top-k runs MAP-SIDE before
    // the window shuffle, so a source with 10⁹ docs ships only its
    // local top-10s, not the whole group. `kept_id_sum` pins the
    // exact kept SET cross-engine, not just its size.
    QueryDef(
      "tx21_source_cap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy(col("q").desc, col("doc_id"))
        docs(s, d)
          .select(col("source"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
               round(min("q"), 6).as("min_kept_q"),
               sum("doc_id").as("kept_id_sum"))
          .orderBy("source")
      },
      Some(s"""SELECT source, count(*) AS n_kept,
              |  round(min(q), 6) AS min_kept_q,
              |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum FROM
              |(SELECT source, doc_id, q,
              |   row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk FROM
              | (SELECT source, doc_id, ${TS.qualityScore} AS q FROM documents))
              |WHERE rk <= 10 GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- leakage-safe GROUP-AWARE split: hash the GROUP key
    // (source), not the content — every doc of a source lands in the
    // same split by construction, so near-duplicates within a source
    // can never straddle train/test (the contamination mode a
    // content-hash split permits). Same map-side assignment physics
    // as split_train_holdout; n_sources counts whole groups moved.
    QueryDef(
      "split_group_aware",
      (s, d) => docs(s, d)
        .withColumn("__b", TextAnalysis.hashBucket(col("source"), 100))
        .withColumn("split",
          when(col("__b") < 80, "train")
            .when(col("__b") < 90, "validation")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("split"),
      Some(s"""SELECT split, count(*) AS n_docs,
              |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM
              |(SELECT source, CASE WHEN b < 80 THEN 'train'
              |  WHEN b < 90 THEN 'validation' ELSE 'test' END AS split FROM
              | (SELECT source, (${graft.ext.NearDup.Sql.charHashSql("source")}) % 100 AS b
              |  FROM documents))
              |GROUP BY 1 ORDER BY split""".stripMargin)),

    // ----- cross-source quantile normalization (score calibration):
    // raw quality scores are not comparable across sources (each
    // source has its own score distribution), so a single global
    // threshold over-prunes one source and under-prunes another. The
    // calibrated score is the WITHIN-SOURCE percent rank —
    // (rank−1)/(n−1), ties broken on doc_id so ranks are total and
    // the double is a ratio of exact integers (bit-identical
    // cross-engine). The output shows the point: each source's top
    // decile starts at a DIFFERENT raw-score threshold. Same
    // single-shuffle window physics as tx21; the window carries
    // (source, q, doc_id) only.
    QueryDef(
      "tx24_quantile_normalize",
      (s, d) => {
        val w = Window.partitionBy("source").orderBy(col("q"), col("doc_id"))
        docs(s, d)
          .select(col("source"), col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("pr") >= 0.9, 1)).as("n_top_decile"),
            round(min(when(col("pr") >= 0.9, col("q"))), 6).as("top_decile_q_threshold"))
          .orderBy("source")
      },
      Some(s"""WITH scored AS (SELECT source, doc_id, ${TS.qualityScore} AS q
              |  FROM documents),
              |ranked AS (SELECT source, doc_id, q,
              |    round(percent_rank() OVER
              |      (PARTITION BY source ORDER BY q, doc_id), 6) AS pr
              |  FROM scored)
              |SELECT source, count(*) AS n_docs,
              |  count(*) FILTER (pr >= 0.9) AS n_top_decile,
              |  round(min(q) FILTER (pr >= 0.9), 6) AS top_decile_q_threshold
              |FROM ranked GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- exact-k deterministic per-group sample: rate-based
    // sampling (the hashBucket sampler above) yields a BINOMIAL count
    // per group; pipelines that need exactly k docs per source (eval
    // set construction, per-domain probes) rank by a content-blind
    // hash of the id and keep the top k — reproducible across runs
    // and engines, no RNG. Rank-then-filter plans as WindowGroupLimit
    // (map-side top-k BEFORE the window shuffle, tx21's physics);
    // kept_id_sum pins the exact kept set.
    QueryDef(
      "sample_exact_k",
      (s, d) => {
        val w = Window.partitionBy("source")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        docs(s, d)
          .select(col("source"), col("doc_id"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 7)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("kept_id_sum"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_kept,
             |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum FROM
             |(SELECT source, doc_id,
             |   row_number() OVER (PARTITION BY source
             |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             | FROM documents)
             |WHERE rk <= 7 GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- snapshot diff / change-data capture between two corpus
    // versions: the incremental-processing primitive (Delta CDF /
    // Iceberg changelog shape) — given yesterday's snapshot and
    // today's crawl, classify every key as added / removed / changed /
    // unchanged so downstream stages (dedup, embedding, indexing)
    // reprocess ONLY the delta. Today's crawl is derived
    // deterministically: every 11th doc disappears, every 7th
    // (surviving) doc's text changes, every 13th re-arrives as a new
    // id. One full-outer hash join on doc_id carrying only the
    // 16-byte content fingerprint — never text; id_sum pins the exact
    // per-class key SET, not just its size. At 100 TB this join IS
    // the nightly incremental plan: uniform 8-byte key shuffle, md5
    // payload, output bounded at four rows.
    QueryDef(
      "diff_snapshots",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("__fp"))
        val newSnap = docs(s, d)
          .filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(
              when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))).as("__fp"))
          .unionAll(docs(s, d).filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 800000L).as("doc_id"),
              TextAnalysis.fingerprint(col("text")).as("__fp")))
        base.select(col("doc_id"), col("__fp").as("__fp_old"))
          .join(newSnap.select(col("doc_id"), col("__fp").as("__fp_new")),
            Seq("doc_id"), "full_outer")
          .withColumn("change",
            when(col("__fp_old").isNull, "added")
              .when(col("__fp_new").isNull, "removed")
              .when(col("__fp_old") =!= col("__fp_new"), "changed")
              .otherwise("unchanged"))
          .groupBy("change")
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
          .orderBy("change")
      },
      Some("""WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |new AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS fp
             |  FROM documents WHERE doc_id % 11 <> 0
             |  UNION ALL
             |  SELECT doc_id + 800000, md5(text) FROM documents WHERE doc_id % 13 = 0)
             |SELECT CASE WHEN o.fp IS NULL THEN 'added'
             |    WHEN n.fp IS NULL THEN 'removed'
             |    WHEN o.fp <> n.fp THEN 'changed' ELSE 'unchanged' END AS change,
             |  count(*) AS n_docs,
             |  CAST(sum(COALESCE(o.doc_id, n.doc_id)) AS BIGINT) AS id_sum
             |FROM old o FULL OUTER JOIN new n USING (doc_id)
             |GROUP BY 1 ORDER BY change""".stripMargin)),

    // ----- end-to-end training-data curation pipeline: simulated
    // re-crawl (doubled corpus) → enrich (quality score + lang-ID) →
    // quality gate → exact-dedup keep-first → per-language token
    // budget. The flagship composition: every stage is the registered
    // operator itself (E2+E3+E5), and the whole pipeline stays
    // hash-verified end-to-end.
    QueryDef(
      "pipeline_curation",
      (s, d) => {
        val base = docs(s, d)
        val ingest = base.unionAll(base)
        // Physics (the semantics match the oracle's gate-then-dedup
        // composition because q/lang_pred are pure functions of text,
        // and the dedup key IS md5(text) — every copy of a text gates
        // identically, so dedup-first picks the same survivors):
        //  1. one projection materializes the SMALL derived parts
        //     (token count, distinct count, one 16-word token_freqs) —
        //     materializing is what stops Catalyst inlining the freqs
        //     expression into every one of the argmax's ~40 references
        //     and the gate predicate (measured: the composed form paid
        //     ~50 token-array passes per row, half of them below the
        //     pushed-down filter at SCAN level);
        //  2. keep-first dedup shuffles only (fp, doc_id, 3 small
        //     parts) — not text, not the token array;
        //  3. quality/lang-ID become cheap arithmetic over the parts,
        //     computed on the deduped half of the ingest.
        val parts = ingest
          .withColumn("__toks", TextAnalysis.tokens(col("text")))
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("__fp"),
            size(col("__toks")).as("__ntok"),
            size(array_distinct(col("__toks"))).as("__ndis"),
            TextAnalysis.wordFreqs(col("__toks"), TextAnalysis.allMarkerWords)
              .as("__freqs"))
        val deduped = Dedup.exactKeepFirst(parts, Seq(col("__fp")), Seq(col("doc_id")))
        val scored = deduped
          .withColumn("q", TextAnalysis.qualityScoreParts(col("__ntok"),
            col("__ndis"), TextAnalysis.stopHitsFromFreqs(col("__freqs"))))
          .withColumn("lang_pred", TextAnalysis.langIdParts(col("__freqs")))
        scored.filter(col("q") >= 0.5)
          .groupBy("lang_pred")
          .agg(count(lit(1)).as("kept_docs"),
               sum(col("__ntok").cast("long")).as("total_tokens"),
               round(avg(col("q")), 6).as("avg_quality"))
          .orderBy("lang_pred")
      },
      Some(s"""WITH ingest AS (SELECT * FROM documents UNION ALL SELECT * FROM documents),
              |enr AS (SELECT doc_id, text, ${TS.qualityScore} AS q, ${TS.langId} AS lang_pred
              |        FROM ingest),
              |gated AS (SELECT * FROM enr WHERE q >= 0.5),
              |dedup AS (SELECT * FROM
              |  (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              |   FROM gated) WHERE rn = 1)
              |SELECT lang_pred, count(*) AS kept_docs,
              |  CAST(sum(${TS.tokenCount}) AS BIGINT) AS total_tokens,
              |  round(avg(q), 6) AS avg_quality
              |FROM dedup GROUP BY 1 ORDER BY lang_pred""".stripMargin),
      bench = true),

    // ----- canonicalization-aware dedup: normalize (collapse runs of
    // spaces, trim, case-fold) BEFORE fingerprinting — the curation op
    // that catches re-crawled near-identical copies exact dedup misses.
    // The ingest plants noisy variants ('  '+UPPER(text)+' ') so the
    // raw fingerprints all differ while canonical fingerprints collapse
    // back to the clean corpus — both counts oracle-verified.
    QueryDef(
      "tx7_canonical_dedup",
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val noisy = base.select(col("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
        val canon = lower(trim(regexp_replace(col("text"), " +", " ")))
        base.unionAll(noisy)
          .agg(count(lit(1)).as("n_rows"),
               countDistinct(md5(col("text"))).as("uniq_raw"),
               countDistinct(md5(canon)).as("uniq_canonical"))
      },
      Some("""SELECT count(*) AS n_rows,
             |count(DISTINCT md5(text)) AS uniq_raw,
             |count(DISTINCT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g'))))) AS uniq_canonical
             |FROM (SELECT text FROM documents
             |      UNION ALL SELECT '  ' || upper(text) || ' ' FROM documents)""".stripMargin)),

    // ----- weighted mixture sampling: per-source admission rates
    // (epoch-mixture construction — upsample rare/high-quality
    // sources, downsample bulk crawl) via the same deterministic
    // content-hash primitive as split/sample. Rates are a plan-side
    // map; admission = hash bucket < rate·1000, so the sample is
    // reproducible and composes with the split (independent hash uses
    // MUST use distinct salts — here the rate bucket space (1000)
    // differs from the split's (100), and at 100 TB you'd salt the
    // hash input per decision instead).
    QueryDef(
      "mixture_weighted",
      (s, d) => {
        // tiered demo weights: src0-src4 keep all, src5-src9 half,
        // the rest 10%. Thresholds are INTEGER bucket counts end to
        // end — a double `rate * 1000` would truncate differently
        // than DuckDB's exact DECIMAL product for rates like 0.29
        // (289.999… → 289 vs 290) and break the cross-engine contract
        val keepBuckets = when(col("source").isin((0 to 4).map("src" + _): _*), 1000L)
          .when(col("source").isin((5 to 9).map("src" + _): _*), 500L)
          .otherwise(100L)
        docs(s, d)
          .withColumn("__keep",
            TextAnalysis.hashBucket(col("text"), 1000) < keepBuckets)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
               count(when(col("__keep"), 1)).as("n_kept"))
          .orderBy("source")
      },
      Some(s"""SELECT source, count(*) AS n_docs,
              |count(*) FILTER (keep) AS n_kept FROM
              |(SELECT source, ${TS.hashBucket(1000)} <
              |   (CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1000
              |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 500
              |         ELSE 100 END) AS keep
              | FROM documents)
              |GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- sequence packing (concat-and-chunk): assign documents to
    // fixed-size context windows by running token count, per source —
    // the pretraining batch-prep step. Deterministic contiguous
    // packing: doc d lands in bin floor(cum_tokens_before(d) / L); a
    // doc may straddle a boundary (the concat-and-chunk contract —
    // bins fill to >= L, overflow flows into the next). One window
    // (cumsum) + one aggregation; at scale the bin id becomes a write
    // partition column.
    QueryDef(
      "pack_sequences",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val L = 2048
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, d)
          .select(col("source"), col("doc_id"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
          .withColumn("bin",
            floor((sum(col("ntok")).over(w) - col("ntok")).cast("double") / L).cast("long"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("bin_tokens"))
          .orderBy("source", "bin")
      },
      Some(s"""SELECT source, bin, count(*) AS n_docs,
              |CAST(sum(ntok) AS BIGINT) AS bin_tokens FROM
              |(SELECT source, doc_id, ntok,
              |  CAST(floor(CAST(sum(ntok) OVER w - ntok AS DOUBLE) / 2048) AS BIGINT) AS bin
              | FROM (SELECT source, doc_id, ${TS.tokenCount} AS ntok FROM documents)
              | WINDOW w AS (PARTITION BY source ORDER BY doc_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |GROUP BY 1, 2 ORDER BY source, bin""".stripMargin)),

    // ----- count-min-sketch token frequency — the registered sketch
    // surface (round-2 verdict item 8). The sketch is mergeable
    // constant-memory state built distributed over exploded tokens;
    // only the finished ~KB sketch crosses to the driver (the X1
    // bounded-collect pattern) to answer point lookups for a fixed
    // probe vocabulary. Sketch internals differ across engines, so the
    // ESTIMATES aren't mirrored — the oracle gates CMS's defining
    // invariant instead (see within_bound below); TextAnalysisSpec
    // additionally bounds the error.
    // NOTE: unlike every other entry, CONSTRUCTING this DataFrame
    // executes the sketch job (the estimates are driver-side point
    // lookups and must exist before the result plan can be built) —
    // an inherent property of driver-queried sketches, so e.g.
    // Explain on this query pays the aggregation.
    QueryDef(
      "sketch_cms_token_freq",
      (s, d) => {
        import s.implicits._
        val toks = docs(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
        val bytes = graft.ops.Grids.boundedHead(toks
          .agg(expr("count_min_sketch(token, 0.0001d, 0.99d, 42)")),
          "cms_sketch_bytes").getAs[Array[Byte]](0)
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        val probes = Seq("join", "hash", "scan", "spark", "table", "query",
          "data", "absent_token_xyz")
        val est = probes.map(p => (p, cms.estimateCount(p))).toDF("token", "est_cnt")
        // CMS guarantee as the oracle contract: overestimate-only, and
        // over_est ≤ ε·N (ε = 1e-4, N = the sketch's own totalCount —
        // no extra job). The estimates themselves can't hash-match a
        // foreign sketch impl; this bound is what CMS promises, checked
        // engine-side, mirrored by the exact counts + literal true.
        val maxOver = math.ceil(0.0001 * cms.totalCount()).toLong
        val exact = toks.filter(col("token").isin(probes: _*))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
        est.join(exact, Seq("token"), "left")
          .select(col("token"),
            coalesce(col("cnt"), lit(0L)).as("exact_cnt"),
            (col("est_cnt") >= coalesce(col("cnt"), lit(0L)) &&
              col("est_cnt") - coalesce(col("cnt"), lit(0L)) <= maxOver)
              .as("within_bound"))
          .orderBy("token")
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |probes(token) AS (VALUES ('join'),('hash'),('scan'),('spark'),
             |  ('table'),('query'),('data'),('absent_token_xyz')),
             |ex AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1)
             |SELECT p.token, CAST(coalesce(ex.cnt, 0) AS BIGINT) AS exact_cnt,
             |  true AS within_bound
             |FROM probes p LEFT JOIN ex USING (token) ORDER BY token""".stripMargin)),

    // ----- distinctive terms per source via Dunning's log-likelihood
    // G² (the corpus-comparison statistic behind "what vocabulary
    // makes THIS source different" — keyness analysis; TF-IDF says
    // what is frequent-here-rare-there per DOCUMENT, G² says what is
    // statistically OVER-represented in a SLICE vs the rest, the tool
    // for auditing a crawl source's topical fingerprint before it is
    // mixed in). 2×2 contingency per term: (a = in-target count, b =
    // rest count, c/d = all OTHER tokens per side); G² = 2·Σ O·ln(O/E).
    // SCALE: the token explode collapses to the vocab grid in one
    // uniform-key shuffle (partial agg shrinks it map-side); corpus
    // totals are a 1-row broadcast; the rank runs on \|vocab| rows.
    // EXACTNESS: every O and every E-numerator is an exact LONG
    // (ta·(a+b) ≤ ~1e12 ≪ 2^63), ONE double division per E, ln
    // applied in identical textual order both engines, round 6;
    // zero cells contribute exactly 0 via an explicit CASE, never
    // ln(0). Top-15 pinned by (g2 desc, term).
    QueryDef(
      "tx30_distinctive_terms",
      (s, d) => {
        import org.apache.spark.sql.Column
        val tok = docs(s, d).select(
          (col("source") === "src0").as("in_t"),
          explode(split(col("text"), " ")).as("term"))
        val counts = tok.groupBy("term").agg(
          sum(when(col("in_t"), 1L).otherwise(0L)).as("a"),
          sum(when(!col("in_t"), 1L).otherwise(0L)).as("b"))
        val tots = counts.agg(sum("a").as("__ta"), sum("b").as("__tb"))
        def cell(o: Column, e: Column): Column =
          when(o > 0, o.cast("double") * log(o.cast("double") / e)).otherwise(lit(0.0))
        counts.filter(col("a") + col("b") >= 5)
          .crossJoin(broadcast(tots))
          .withColumn("__n", (col("__ta") + col("__tb")).cast("double"))
          .withColumn("__ca", col("__ta") - col("a"))
          .withColumn("__db", col("__tb") - col("b"))
          .withColumn("g2", round(lit(2.0) * (
            cell(col("a"), col("__ta") * (col("a") + col("b")) / col("__n")) +
            cell(col("b"), col("__tb") * (col("a") + col("b")) / col("__n")) +
            cell(col("__ca"), col("__ta") * (col("__ca") + col("__db")) / col("__n")) +
            cell(col("__db"), col("__tb") * (col("__ca") + col("__db")) / col("__n"))), 6))
          .select(col("term"), col("a").as("cnt_target"),
            col("b").as("cnt_rest"), col("g2"))
          .orderBy(col("g2").desc, col("term"))
          .limit(15)
      },
      Some("""WITH tok AS (SELECT (source = 'src0') AS in_t,
             |    unnest(string_split(text, ' ')) AS term FROM documents),
             |c AS (SELECT term,
             |    CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS a,
             |    CAST(sum(CASE WHEN NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS b
             |  FROM tok GROUP BY 1),
             |t AS (SELECT CAST(sum(a) AS BIGINT) AS ta,
             |             CAST(sum(b) AS BIGINT) AS tb FROM c),
             |x AS (SELECT term, a, b, ta, tb,
             |    CAST(ta + tb AS DOUBLE) AS n, ta - a AS ca, tb - b AS db
             |  FROM c, t WHERE a + b >= 5)
             |SELECT term, a AS cnt_target, b AS cnt_rest,
             |  round(2.0 * (
             |    (CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
             |       * ln(CAST(a AS DOUBLE) / (ta * (a + b) / n)) ELSE 0.0 END) +
             |    (CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
             |       * ln(CAST(b AS DOUBLE) / (tb * (a + b) / n)) ELSE 0.0 END) +
             |    (CASE WHEN ca > 0 THEN CAST(ca AS DOUBLE)
             |       * ln(CAST(ca AS DOUBLE) / (ta * (ca + db) / n)) ELSE 0.0 END) +
             |    (CASE WHEN db > 0 THEN CAST(db AS DOUBLE)
             |       * ln(CAST(db AS DOUBLE) / (tb * (ca + db) / n)) ELSE 0.0 END)), 6) AS g2
             |FROM x ORDER BY g2 DESC, term LIMIT 15""".stripMargin)),

    // ----- skyline (Pareto-frontier) document selection: multi-
    // objective curation without a weighting function — keep every doc
    // not dominated in (length, vocabulary richness); any scalarized
    // quality cut (tx18's curriculum, tx20's gate) discards docs some
    // other trade-off would keep, the skyline is exactly the set of
    // docs SOME monotone preference would pick. Dims are exact longs:
    // d1 = token count, d2 = distinct-token ratio ×10⁶ (integer div —
    // both positive, Spark `div` ≡ DuckDB `//`). Scale shape: the
    // naive dominance check is an all-pairs anti-join; instead the
    // groupBy(d1) collapses any corpus to ≤|distinct lengths| rows
    // (bounded by max doc length, NOT corpus size), the running-max
    // frontier scan is a window over that bounded set, and the
    // frontier joins back broadcast — one uniform-key shuffle total.
    // 2-D dominance: (d1,d2) is dominated iff a strictly-longer
    // length class reaches ≥ d2 (m_gt ≥ d2) or its own length class
    // reaches > d2 (d2 < max within class); equal pairs dominate
    // neither way and all survive.
    QueryDef(
      "tx31_skyline",
      (s, d) => {
        val base = docs(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("d1"),
            expr("(CAST(size(array_distinct(split(text, ' '))) AS BIGINT) " +
              "* 1000000) div CAST(size(split(text, ' ')) AS BIGINT)").as("d2"))
          .filter(col("d1") > 0L)
        val classes = base.groupBy("d1").agg(max("d2").as("m2"))
        val wGt = Window.orderBy(col("d1").desc)
          .rangeBetween(Window.unboundedPreceding, -1)
        val frontier = classes
          .withColumn("m_gt", max("m2").over(wGt))
          .filter(col("m_gt").isNull || col("m_gt") < col("m2"))
          .select(col("d1").as("f_d1"), col("m2").as("f_m2"))
        base.join(broadcast(frontier),
            col("d1") === col("f_d1") && col("d2") === col("f_m2"))
          .select(col("doc_id"), col("d1").as("n_tokens"),
            col("d2").as("distinct_ratio_ppm"))
          .orderBy("n_tokens", "doc_id")
      },
      Some("""WITH base AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS d1,
             |    (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             |     * 1000000) // CAST(len(string_split(text, ' ')) AS BIGINT) AS d2
             |  FROM documents WHERE len(string_split(text, ' ')) > 0),
             |cls AS (SELECT d1, max(d2) AS m2 FROM base GROUP BY 1),
             |fr AS (SELECT d1, m2, max(m2) OVER (ORDER BY d1 DESC
             |    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_gt
             |  FROM cls)
             |SELECT b.doc_id, b.d1 AS n_tokens, b.d2 AS distinct_ratio_ppm
             |FROM base b JOIN fr f ON b.d1 = f.d1 AND b.d2 = f.m2
             |WHERE f.m_gt IS NULL OR f.m_gt < f.m2
             |ORDER BY n_tokens, doc_id""".stripMargin)),

    // ----- weighted priority sampling (Duffield/Thorup priority-
    // sampling shape, integer-exact priority): size-biased doc
    // sampling — longer docs proportionally likelier — for corpus
    // inspection and token-weighted eval draws, where sample_exact_k's
    // uniform draw under-represents exactly the docs holding most of
    // the tokens. Deterministic: u = poly-hash(doc_id) mod 2²⁰ (the
    // registry's pinned charHash, SQL-mirrored), priority =
    // (w << 20) div (u+1) — exact longs end to end (w ≤ n_chars
    // ~10⁴ ⇒ priority < 2⁵⁵, no overflow), monotone in w at fixed u,
    // so inclusion probability rises with weight. Global top-k by
    // (priority, doc_id) is a TakeOrdered — per-partition heads +
    // driver merge of k rows, NO full sort shuffle at any scale.
    QueryDef(
      "sample_weighted_priority",
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("n_chars").as("w"),
          graft.ext.NearDup.charHash(col("doc_id").cast("string")).as("h"))
        .withColumn("priority",
          expr("(w * 1048576) div ((h % 1048576) + 1)"))
        .select(col("doc_id"), col("w"), col("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(50),
      Some(s"""SELECT doc_id, n_chars AS w,
              |  (n_chars * 1048576) //
              |    ((${graft.ext.NearDup.Sql.charHashSql("CAST(doc_id AS VARCHAR)")}) % 1048576 + 1)
              |    AS priority
              |FROM documents
              |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin)),

    // ----- exact phrase search via positional postings (the retrieval
    // primitive BM25's bag-of-words scoring cannot express — "data
    // slow" as an ADJACENT pair, the quote-query / exact-match lookup
    // of decontamination and attribution audits). Inverted-index
    // discipline like tx26: the term-IN predicate sits inside the
    // posting build, so the shuffle carries only the queried terms'
    // postings (term-selectivity-bounded, never the full corpus); the
    // adjacency check is an equi-join on (doc, pos+1) — posting-list
    // intersection as a join, exactly how Lucene executes phrases.
    // Positions are engine-local (Spark 0-based, DuckDB 1-based) but
    // only the +1 DELTA is compared, so the convention cancels.
    QueryDef(
      "tx32_phrase_search",
      (s, d) => {
        val Seq(w0, w1) = Seq("data", "slow")
        val posts = docs(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
          .filter(col("term").isin(w0, w1))
        posts.filter(col("term") === w0)
          .select(col("doc_id"), col("pos"))
          .join(posts.filter(col("term") === w1)
              .select(col("doc_id").as("d2"), col("pos").as("p2")),
            col("d2") === col("doc_id") && col("p2") === col("pos") + 1)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"))
          .orderBy(col("n_hits").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, i AS pos, toks[i] AS term
             |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
             |  WHERE toks[i] IN ('data', 'slow'))
             |SELECT a.doc_id AS doc_id, count(*) AS n_hits
             |FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
             |WHERE a.term = 'data' AND b.term = 'slow'
             |GROUP BY 1 ORDER BY n_hits DESC, a.doc_id LIMIT 20""".stripMargin)),

    // ----- lexical complexity per source (reading-difficulty audit —
    // the Flesch-family signal with the fixture's no-punctuation
    // sentence term dropped): syllables approximated as vowel GROUPS
    // (the standard heuristic), polysyllabic = ≥3 groups. All counts
    // exact longs from per-token regexp over character classes only
    // (Java and RE2 agree); the two ratios are 6-dp-pinned ratios of
    // exact integer sums. Pure per-row Column arithmetic + one
    // source-key aggregation — scalars-only shuffle at any scale.
    QueryDef(
      "tx33_lexical_complexity",
      (s, d) => {
        val sylOf = (t: org.apache.spark.sql.Column) =>
          size(regexp_extract_all(lower(t), lit("[aeiou]+"), lit(0))).cast("long")
        docs(s, d)
          .select(col("source"), split(col("text"), " ").as("toks"))
          .select(col("source"),
            size(col("toks")).cast("long").as("ntok"),
            aggregate(transform(col("toks"), sylOf), lit(0L), (a, x) => a + x)
              .as("syl"),
            size(filter(col("toks"), t => sylOf(t) >= 3L)).cast("long").as("poly"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("ntok").as("total_tokens"),
            round(sum("syl").cast("double") / sum("ntok"), 6)
              .as("avg_syllables_per_token"),
            round(sum("poly").cast("double") / sum("ntok"), 6)
              .as("pct_polysyllabic"))
          .orderBy("source")
      },
      Some("""WITH x AS (SELECT source,
             |    CAST(len(toks) AS BIGINT) AS ntok,
             |    CAST(list_sum(list_transform(toks,
             |      t -> len(regexp_extract_all(lower(t), '[aeiou]+')))) AS BIGINT) AS syl,
             |    CAST(len(list_filter(toks,
             |      t -> len(regexp_extract_all(lower(t), '[aeiou]+')) >= 3)) AS BIGINT) AS poly
             |  FROM (SELECT source, string_split(text, ' ') AS toks FROM documents))
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
             |  round(CAST(sum(syl) AS DOUBLE) / sum(ntok), 6) AS avg_syllables_per_token,
             |  round(CAST(sum(poly) AS DOUBLE) / sum(ntok), 6) AS pct_polysyllabic
             |FROM x GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- per-doc shingle novelty rolled up per source (the INVERSE
    // of tx22's duplicated-n-gram coverage: what fraction of a doc's
    // distinct 3-shingles appear in NO other doc — the freshness
    // signal boilerplate-heavy sources score low on). Reuses the
    // pinned shingle-hash-set builder (native one-pass Spark side,
    // list-comprehension mirror DuckDB side — dedup on hashes, so a
    // P-collision merges identically cross-engine). Physics: explode
    // distinct shingle hashes (Σ|shingles| rows), df count + join
    // back on the uniform hash key, then the per-doc ratio collapses
    // to ≤|sources| rows — two uniform-key shuffles, no pair
    // enumeration, so no df cap is needed (tx22's argument).
    QueryDef(
      "tx34_shingle_novelty",
      (s, d) => {
        val e = docs(s, d)
          .select(col("doc_id"), col("source"),
            explode(graft.ext.NearDup.shingleHashSet(
              TextAnalysis.tokens(col("text")), 3)).as("h"))
        val dfc = e.groupBy("h").agg(count(lit(1)).as("df"))
        e.join(dfc, "h")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_uni"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            round(avg(col("n_uni").cast("double") / col("n_sh")), 6)
              .as("avg_novelty"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
              |    FROM documents),
              |sets AS (SELECT doc_id, source,
              |    ${graft.ext.NearDup.Sql.shingleSet(3)} AS s FROM t),
              |e AS (SELECT doc_id, source, unnest(list_distinct(
              |    ${graft.ext.NearDup.Sql.hashSet})) AS h FROM sets),
              |dfc AS (SELECT h, count(*) AS df FROM e GROUP BY 1),
              |p AS (SELECT doc_id, source, count(*) AS n_sh,
              |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni
              |  FROM e JOIN dfc USING (h) GROUP BY 1, 2)
              |SELECT source, count(*) AS n_docs,
              |  round(avg(CAST(n_uni AS DOUBLE) / n_sh), 6) AS avg_novelty
              |FROM p GROUP BY 1 ORDER BY source""".stripMargin)),

    // ----- compaction planning via next-fit-decreasing bin packing
    // (the small-files planner behind Delta OPTIMIZE / Iceberg
    // rewrite_data_files: given a partition's file manifest, how many
    // target-size output files and how full do they run): docs stand
    // in for files (size = n_chars), source for the partition.
    // Determinism: items sorted size-DESC tie id-ASC via one sortable
    // integer key (10⁶−size)·2³⁰+id — no struct-sort semantics risk;
    // the next-fit fold is a single-integer-encoded accumulator
    // bins·10¹²+fill stepped with pure integer arithmetic, so Spark
    // `aggregate` ≡ DuckDB `list_reduce` exactly (both left folds).
    // Scale shape: a real compaction planner folds over per-partition
    // FILE MANIFESTS (10³-10⁶ entries), not data — the per-source
    // collect is manifest-bounded, the fold O(|manifest|), and
    // partitions plan in parallel; the doc corpus here is the
    // manifest stand-in. Capacity 50 000 chars.
    QueryDef(
      "layout_compaction",
      (s, d) => {
        val cap = 50000L
        docs(s, d)
          .groupBy("source")
          .agg(count(lit(1)).as("n_files"),
            sum(col("n_chars")).as("total_chars"),
            sort_array(collect_list(
              (lit(1000000L) - col("n_chars")) * 1073741824L + col("doc_id")))
              .as("ks"))
          .withColumn("acc", expr(
            s"""aggregate(ks, 1000000000000L, (acc, k) ->
               |  IF(pmod(acc, 1000000000000L) + (1000000L - (k div 1073741824L)) > ${cap}L,
               |     (acc div 1000000000000L + 1) * 1000000000000L
               |       + (1000000L - (k div 1073741824L)),
               |     acc + (1000000L - (k div 1073741824L))))
               |""".stripMargin))
          .select(col("source"), col("n_files"), col("total_chars"),
            expr("acc div 1000000000000L").as("n_bins"),
            round(col("total_chars").cast("double") /
              (expr("acc div 1000000000000L") * cap), 6).as("fill_pct"))
          .orderBy("source")
      },
      Some("""WITH g AS (SELECT source, count(*) AS n_files,
             |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
             |    list_sort(list((1000000 - n_chars) * 1073741824 + doc_id)) AS ks
             |  FROM documents GROUP BY 1),
             |f AS (SELECT source, n_files, total_chars,
             |    list_reduce(list_prepend(CAST(1000000000000 AS BIGINT), ks),
             |      (acc, k) -> CASE
             |        WHEN acc % 1000000000000 + (1000000 - k // 1073741824) > 50000
             |        THEN (acc // 1000000000000 + 1) * 1000000000000
             |             + (1000000 - k // 1073741824)
             |        ELSE acc + (1000000 - k // 1073741824) END) AS acc
             |  FROM g)
             |SELECT source, n_files, total_chars,
             |  acc // 1000000000000 AS n_bins,
             |  round(CAST(total_chars AS DOUBLE) / ((acc // 1000000000000) * 50000), 6)
             |    AS fill_pct
             |FROM f ORDER BY source""".stripMargin)),

    // ----- merkle-bucket snapshot reconciliation (the anti-entropy
    // primitive UNDER diff_snapshots: row-level full-outer diff reads
    // both snapshots end to end; bucketed digests compare 64 hashes
    // first and row-diff only the buckets that differ — the
    // rsync/Dynamo/Cassandra repair shape, and at 100 TB the only
    // affordable way to re-sync a mostly-identical replica). Buckets
    // key on doc_id (both sides agree by construction); per-bucket
    // digest = md5 over the SORTED "id:fp" lines (ASCII-only strings,
    // binary sort order identical cross-engine). Sparse drift
    // fixture: ~1% changed (%97), removed (%89), added (%93 shifted)
    // — so differing buckets are a strict subset, proving the digest
    // actually discriminates. Output ≤ 64 rows at any scale.
    QueryDef(
      "diff_merkle_buckets",
      (s, d) => {
        val fp = TextAnalysis.fingerprint(col("text"))
        val old = docs(s, d).select(col("doc_id"), fp.as("fp"))
        val nw = docs(s, d)
          .filter(col("doc_id") % 89 =!= 0)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(
              when(col("doc_id") % 97 === 0, concat(col("text"), lit(" v2")))
                .otherwise(col("text"))).as("fp"))
          .unionAll(docs(s, d).filter(col("doc_id") % 93 === 0)
            .select((col("doc_id") + 900000L).as("doc_id"), fp.as("fp")))
        def digest(df: DataFrame, n: String, h: String): DataFrame =
          df.groupBy(pmod(col("doc_id"), lit(64L)).as("bucket"))
            .agg(count(lit(1)).as(n),
              md5(concat_ws("|", sort_array(collect_list(
                concat_ws(":", col("doc_id"), col("fp")))))).as(h))
        digest(old, "n_old", "h_old")
          .join(digest(nw, "n_new", "h_new"), Seq("bucket"), "full_outer")
          .filter(col("h_old").isNull || col("h_new").isNull ||
            col("h_old") =!= col("h_new"))
          .select(col("bucket"), coalesce(col("n_old"), lit(0L)).as("n_old"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .orderBy("bucket")
      },
      Some("""WITH old AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |nw AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 97 = 0 THEN text || ' v2' ELSE text END) AS fp
             |  FROM documents WHERE doc_id % 89 <> 0
             |  UNION ALL
             |  SELECT doc_id + 900000, md5(text) FROM documents WHERE doc_id % 93 = 0),
             |ob AS (SELECT doc_id % 64 AS bucket, count(*) AS n_old,
             |    md5(string_agg(doc_id || ':' || fp, '|'
             |      ORDER BY doc_id || ':' || fp)) AS h_old
             |  FROM old GROUP BY 1),
             |nb AS (SELECT doc_id % 64 AS bucket, count(*) AS n_new,
             |    md5(string_agg(doc_id || ':' || fp, '|'
             |      ORDER BY doc_id || ':' || fp)) AS h_new
             |  FROM nw GROUP BY 1)
             |SELECT bucket, COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
             |FROM ob FULL OUTER JOIN nb USING (bucket)
             |WHERE h_old IS NULL OR h_new IS NULL OR h_old <> h_new
             |ORDER BY bucket""".stripMargin)),

    // ----- source-concentration audit: Shannon entropy + Gini over
    // the per-source doc distribution (the scalar health numbers
    // behind t_drift_mix's per-type terms and a21's Pareto cut — one
    // diversified-corpus gauge a mixing policy can threshold on).
    // Entropy terms are p·ln(p) on exact-integer ratios (tx30's ln
    // precedent, 6-dp pin); the Gini numerator Σ(2i−S−1)·nᵢ is EXACT
    // longs — rank i via ops/Rank over the per-source aggregate. The
    // source grid is NOT bounded at the north-star workload (source =
    // web domain → 10⁷-10⁸ keys, growing with the corpus), so the
    // rank is the distributed range-exchange primitive, never an
    // unpartitioned window. One source-key shuffle + one grid-sized
    // range exchange total.
    QueryDef(
      "a25_source_entropy",
      (s, d) => {
        val bySrc = docs(s, d).groupBy("source").agg(count(lit(1)).as("n"))
        // rank i = running count of ones via ops/Rank — at the
        // north-star workload source is a web DOMAIN (10⁷-10⁸ keys),
        // so the per-source grid grows with the corpus and fails the
        // bounded-frame test; no unpartitioned window (round-8
        // verdict item 4). (n, source) is unique via source.
        val ranked = graft.ops.Rank.runningTotals(
            bySrc.withColumn("__one", lit(1L)),
            Seq(col("n"), col("source")), Seq("__one" -> "i"), tracked(_))
          .drop("__one")
        // H = ln N − (Σ n·ln n)/N (the algebraic form that keeps every
        // log argument an exact integer); Gini from Σ i·nᵢ exact longs
        ranked
          .agg(count(lit(1)).as("s"), sum("n").as("nn"),
            sum(col("n").cast("double") * log(col("n").cast("double")))
              .as("snln"),
            sum(col("i") * col("n")).as("sin"))
          .select(col("s").as("n_sources"), col("nn").as("n_docs"),
            round(log(col("nn").cast("double")) -
              col("snln") / col("nn"), 6).as("entropy"),
            when(col("s") > 1L,
              round((log(col("nn").cast("double")) - col("snln") / col("nn")) /
                log(col("s").cast("double")), 6)).as("entropy_norm"),
            round((lit(2L) * col("sin") - (col("s") + 1L) * col("nn"))
              .cast("double") / (col("s") * col("nn")), 6).as("gini"))
      },
      Some("""WITH bs AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
             |r AS (SELECT n,
             |    CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS i
             |  FROM bs),
             |a AS (SELECT CAST(count(*) AS BIGINT) AS s,
             |    CAST(sum(n) AS BIGINT) AS nn,
             |    sum(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS snln,
             |    CAST(sum(i * n) AS BIGINT) AS sin FROM r)
             |SELECT s AS n_sources, nn AS n_docs,
             |  round(ln(CAST(nn AS DOUBLE)) - snln / nn, 6) AS entropy,
             |  CASE WHEN s > 1 THEN
             |    round((ln(CAST(nn AS DOUBLE)) - snln / nn)
             |      / ln(CAST(s AS DOUBLE)), 6) END AS entropy_norm,
             |  round(CAST(2 * sin - (s + 1) * nn AS DOUBLE) / (s * nn), 6) AS gini
             |FROM a""".stripMargin)),

    // ----- proportional sample allocation via largest-remainder
    // (Hamilton) apportionment: split a budget of k=100 draws across
    // sources ∝ doc counts with EXACT integer arithmetic — floor the
    // quota k·nₕ/N (integer div), then hand the leftover seats to the
    // largest remainders (k·nₕ mod N compared as exact longs, ties by
    // source name). The allocation step every stratified sampler runs
    // before the per-stratum draw (sample_exact_k consumes exactly
    // such budgets); floats never appear, so there is no .5-rounding
    // drift cross-engine. The remainder rank runs on ops/Rank (the
    // source grid is data-scale under a domain key — no unpartitioned
    // window). Invariant Σalloc = k holds by construction (floors +
    // exactly-leftover remainders).
    QueryDef(
      "sample_allocation",
      (s, d) => {
        val k = 100L
        val bySrc = docs(s, d).groupBy("source").agg(count(lit(1)).as("n"))
        // floor quotas + leftover computed from the same exact ints
        val base = bySrc.crossJoin(broadcast(bySrc.agg(sum("n").as("nn"))))
          .withColumn("fl", expr(s"(${k}L * n) div nn"))
          .withColumn("rem", expr(s"(${k}L * n) % nn"))
        val leftover = base.agg((lit(k) - sum("fl")).as("lo"))
        // remainder rank via ops/Rank running count — the per-source
        // grid is data-scale at the domain-key workload (round-8
        // verdict item 4), so no unpartitioned window; (rem desc,
        // source) is unique via source
        graft.ops.Rank.runningTotals(
            base.crossJoin(broadcast(leftover)).withColumn("__one", lit(1L)),
            Seq(col("rem").desc, col("source")), Seq("__one" -> "rk"),
            tracked(_))
          .select(col("source"), col("n").as("n_docs"),
            (col("fl") + when(col("rk") <= col("lo"), 1L).otherwise(0L))
              .as("alloc"))
          .orderBy("source")
      },
      Some("""WITH bs AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM bs),
             |b AS (SELECT source, n, (100 * n) // nn AS fl, (100 * n) % nn AS rem
             |  FROM bs, t),
             |lo AS (SELECT 100 - CAST(sum(fl) AS BIGINT) AS lo FROM b),
             |r AS (SELECT *, CAST(row_number() OVER
             |    (ORDER BY rem DESC, source) AS BIGINT) AS rk FROM b)
             |SELECT source, n AS n_docs,
             |  CAST(fl + CASE WHEN rk <= lo THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |FROM r, lo ORDER BY source""".stripMargin)),

    // ----- Token-weighted median document length per source (the
    // length stat that matches what the MODEL sees: a plain median
    // counts documents, but training mass is TOKENS, so a source of
    // many tiny docs plus a few huge ones has a token-weighted
    // median far above its doc median — the divergence itself is
    // the packing/chunking planning signal). Exact by construction:
    // weights are integer token counts, the weighted median is the
    // first n_chars (order pinned by (n_chars, doc_id)) whose
    // cumulative weight reaches half the source total — an
    // all-integer 2·cw ≥ W compare, and since qualifying rows form
    // a suffix of the order, min(n_chars) over them IS that first
    // row. One uniform source-key shuffle shared by the window and
    // both aggs; ≤|sources| rows out.
    QueryDef(
      "tx35_weighted_median",
      (s, d) => {
        val w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
        val dd = docs(s, d).select(col("source"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
        val cum = dd.withColumn("cw", sum("ntok").over(w))
        val tot = dd.groupBy("source").agg(sum("ntok").as("tw"),
          count(lit(1)).as("n_docs"))
        cum.join(tot, Seq("source"))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy("source")
          .agg(min("n_chars").as("wmedian_chars"))
          .join(tot, Seq("source"))
          .select(col("source"), col("n_docs"), col("tw").as("total_tokens"),
            col("wmedian_chars"))
          .orderBy("source")
      },
      Some(s"""WITH dd AS (SELECT source, doc_id,
              |    CAST(n_chars AS BIGINT) AS n_chars,
              |    CAST(${TS.tokenCount} AS BIGINT) AS ntok
              |  FROM documents),
              |cum AS (SELECT source, n_chars,
              |    sum(ntok) OVER (PARTITION BY source
              |      ORDER BY n_chars, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
              |  FROM dd),
              |tot AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS tw,
              |    count(*) AS n_docs FROM dd GROUP BY 1),
              |wm AS (SELECT c.source, min(c.n_chars) AS wmedian_chars
              |  FROM cum c JOIN tot t ON c.source = t.source
              |  WHERE c.cw * 2 >= t.tw GROUP BY 1)
              |SELECT w.source, t.n_docs, t.tw AS total_tokens,
              |  w.wmedian_chars
              |FROM wm w JOIN tot t ON w.source = t.source
              |ORDER BY w.source""".stripMargin)),

    // ----- three-way snapshot merge (the branch-reconciliation
    // primitive over diff_snapshots' two-way CDC: two teams curated
    // DIVERGENT copies of one corpus, reconcile against the common
    // base — the lakehouse analogue of a git merge): both branches
    // derived deterministically from base fingerprints (A: %11 drops,
    // %7 edits; B: %13 drops, %5 edits; %35 edits IDENTICALLY on
    // both — the converged case a naive conflict count miscounts).
    // Classification is two broadcast-free left joins on doc_id
    // carrying 16-byte fingerprints only; resolution per the
    // standard rule (one side unchanged → take the other; both
    // changed → converged iff fingerprints agree, else conflict;
    // delete-vs-edit → conflict). id_sum pins each class's exact key
    // SET; output ≤ 9 rows at any scale.
    QueryDef(
      "diff_merge3",
      (s, d) => {
        val base = docs(s, d).select(col("doc_id"),
          md5(col("text")).as("fp"))
        val a = base
          .filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 35 === 0, md5(concat(col("fp"), lit("X"))))
              .when(col("doc_id") % 7 === 0, md5(concat(col("fp"), lit("A"))))
              .otherwise(col("fp")).as("fp_a"))
        val b = base
          .filter(col("doc_id") % 13 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 35 === 0, md5(concat(col("fp"), lit("X"))))
              .when(col("doc_id") % 5 === 0, md5(concat(col("fp"), lit("B"))))
              .otherwise(col("fp")).as("fp_b"))
        base.join(a, Seq("doc_id"), "left").join(b, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("fp_a").isNull, "deleted")
              .when(col("fp_a") =!= col("fp"), "changed")
              .otherwise("same").as("a_state"),
            when(col("fp_b").isNull, "deleted")
              .when(col("fp_b") =!= col("fp"), "changed")
              .otherwise("same").as("b_state"),
            (col("fp_a").isNotNull && col("fp_b").isNotNull &&
              col("fp_a") === col("fp_b")).as("agree"))
          .withColumn("resolution",
            when(col("a_state") === "same" && col("b_state") === "same", "keep")
              .when(col("a_state") === "changed" && col("b_state") === "same", "take_a")
              .when(col("a_state") === "same" && col("b_state") === "changed", "take_b")
              .when(col("a_state") === "changed" && col("b_state") === "changed",
                when(col("agree"), "converged").otherwise("conflict"))
              .when(col("a_state") === "deleted" && col("b_state") === "deleted", "delete")
              .when(col("a_state") === "deleted" && col("b_state") === "same", "delete")
              .when(col("a_state") === "same" && col("b_state") === "deleted", "delete")
              .otherwise("conflict"))
          .groupBy("a_state", "b_state", "resolution")
          .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
          .orderBy("a_state", "b_state", "resolution")
      },
      Some("""WITH base AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |a AS (SELECT doc_id, CASE
             |    WHEN doc_id % 35 = 0 THEN md5(fp || 'X')
             |    WHEN doc_id % 7 = 0 THEN md5(fp || 'A')
             |    ELSE fp END AS fp_a
             |  FROM base WHERE doc_id % 11 <> 0),
             |b AS (SELECT doc_id, CASE
             |    WHEN doc_id % 35 = 0 THEN md5(fp || 'X')
             |    WHEN doc_id % 5 = 0 THEN md5(fp || 'B')
             |    ELSE fp END AS fp_b
             |  FROM base WHERE doc_id % 13 <> 0),
             |st AS (SELECT base.doc_id,
             |    CASE WHEN fp_a IS NULL THEN 'deleted'
             |         WHEN fp_a <> fp THEN 'changed' ELSE 'same' END AS a_state,
             |    CASE WHEN fp_b IS NULL THEN 'deleted'
             |         WHEN fp_b <> fp THEN 'changed' ELSE 'same' END AS b_state,
             |    fp_a IS NOT NULL AND fp_b IS NOT NULL AND fp_a = fp_b AS agree
             |  FROM base LEFT JOIN a USING (doc_id) LEFT JOIN b USING (doc_id)),
             |res AS (SELECT *, CASE
             |    WHEN a_state = 'same' AND b_state = 'same' THEN 'keep'
             |    WHEN a_state = 'changed' AND b_state = 'same' THEN 'take_a'
             |    WHEN a_state = 'same' AND b_state = 'changed' THEN 'take_b'
             |    WHEN a_state = 'changed' AND b_state = 'changed'
             |      THEN CASE WHEN agree THEN 'converged' ELSE 'conflict' END
             |    WHEN a_state = 'deleted' AND b_state = 'deleted' THEN 'delete'
             |    WHEN a_state = 'deleted' AND b_state = 'same' THEN 'delete'
             |    WHEN a_state = 'same' AND b_state = 'deleted' THEN 'delete'
             |    ELSE 'conflict' END AS resolution
             |  FROM st)
             |SELECT a_state, b_state, resolution, count(*) AS n,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM res GROUP BY 1, 2, 3 ORDER BY a_state, b_state, resolution""".stripMargin)),

    // ----- Water-filling token-budget allocation (the data-mixture
    // dual of tx21's fixed cap: given a TOTAL budget — here 60% of
    // corpus tokens — find the per-source cap LEVEL that exactly
    // exhausts it: big sources are cut to the common level t, small
    // sources keep everything, Σ min(nᵢ, t) = B). The level has a
    // CLOSED FORM over prefix-sum algebra — no iteration: sort sources
    // by n, and for candidate "j sources uncapped" the level is
    // t = (B − Pⱼ) div (m−j); exactly one candidate satisfies
    // nⱼ ≤ t < nⱼ₊₁ (equal-n runs make all but the last group row
    // invalid, preserving uniqueness). The div remainder is handed
    // +1 each to the first r capped sources by name, so Σ alloc = B
    // EXACTLY — exact integers end to end. Scale: per-source counts
    // are one uniform shuffle; everything after runs on |sources|
    // rows; B ≥ total degenerates to alloc = n (capped set empty),
    // pinned identically both engines.
    QueryDef(
      "tx36_waterfill_budget",
      (s, d) => {
        val per = docs(s, d).groupBy("source")
          .agg(sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n"))
        val tot = per.agg(sum("n").as("tt"), count(lit(1)).as("m"))
        // rank rn + prefix sum p in ONE ops/Rank range exchange (the
        // ones-column running count gives rn); the per-source grid is
        // data-scale under the domain-key workload (round-8 verdict
        // item 4), so no unpartitioned window. lag(n) becomes an
        // equi self-join on rn — a grid-sized shuffle, not a funnel.
        val rt = graft.ops.Rank.runningTotals(
            per.crossJoin(broadcast(tot))
              .withColumn("b", call_function("div", col("tt") * 60L, lit(100L)))
              .withColumn("__one", lit(1L)),
            Seq(col("n"), col("source")), Seq("n" -> "p", "__one" -> "rn"),
            tracked(_))
          .drop("__one")
        val ranked = rt
          .join(rt.select((col("rn") + 1L).as("rn"), col("n").as("__pn")),
            Seq("rn"), "left_outer")
          .withColumn("ln", coalesce(col("__pn"), lit(0L)))
          .withColumn("pl", col("p") - col("n"))
          .drop("__pn")
        val cand = ranked
          .filter(col("b") >= col("pl"))
          .withColumn("t", call_function("div",
            col("b") - col("pl"), col("m") - col("rn") + 1L))
          .filter(col("ln") <= col("t") && col("t") < col("n"))
          .select(col("t"),
            (col("b") - col("pl") - (col("m") - col("rn") + 1L) * col("t"))
              .as("r"),
            col("rn").as("jrow"))
        val c1 = cand.agg(max("t").as("t"), max("r").as("r"),
          max("jrow").as("jrow"))
        val base = ranked.crossJoin(broadcast(c1))
        val capped = graft.ops.Rank.runningTotals(
            base.filter(col("t").isNotNull && col("rn") >= col("jrow"))
              .withColumn("__one", lit(1L)),
            Seq(col("source")), Seq("__one" -> "cidx"), tracked(_))
          .select(col("source"), col("n"),
            (col("t") + when(col("cidx") <= col("r"), 1L).otherwise(0L))
              .as("alloc"), lit(1L).as("capped"))
        val uncapped = base
          .filter(col("t").isNull || col("rn") < col("jrow"))
          .select(col("source"), col("n"), col("n").as("alloc"),
            lit(0L).as("capped"))
        capped.unionAll(uncapped)
          .select(col("source"), col("n").as("n_tokens"), col("alloc"),
            col("capped"))
          .orderBy("source")
      },
      Some("""WITH per AS (SELECT source,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt,
             |    CAST(count(*) AS BIGINT) AS m,
             |    CAST(sum(n) * 60 // 100 AS BIGINT) AS b FROM per),
             |ranked AS (SELECT source, n,
             |    CAST(row_number() OVER (ORDER BY n, source) AS BIGINT) AS rn,
             |    CAST(sum(n) OVER (ORDER BY n, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS p,
             |    CAST(coalesce(lag(n) OVER (ORDER BY n, source), 0) AS BIGINT)
             |      AS ln
             |  FROM per),
             |cand AS (SELECT t, b - pl - (m - rn + 1) * t AS r, rn AS jrow
             |  FROM (SELECT rn, ln, n, p - n AS pl, b, m,
             |      (b - (p - n)) // (m - rn + 1) AS t
             |    FROM ranked, tot WHERE b >= p - n)
             |  WHERE ln <= t AND t < n),
             |c1 AS (SELECT max(t) AS t, max(r) AS r, max(jrow) AS jrow
             |  FROM cand),
             |base AS (SELECT source, n, rn,
             |    (SELECT t FROM c1) AS t, (SELECT r FROM c1) AS r,
             |    (SELECT jrow FROM c1) AS jrow
             |  FROM ranked),
             |cp AS (SELECT source, n,
             |    t + CASE WHEN row_number() OVER (ORDER BY source) <= r
             |      THEN 1 ELSE 0 END AS alloc,
             |    1 AS capped
             |  FROM base WHERE t IS NOT NULL AND rn >= jrow),
             |uc AS (SELECT source, n, n AS alloc, 0 AS capped
             |  FROM base WHERE t IS NULL OR rn < jrow)
             |SELECT source, n AS n_tokens, CAST(alloc AS BIGINT) AS alloc,
             |  CAST(capped AS BIGINT) AS capped
             |FROM (SELECT * FROM cp UNION ALL SELECT * FROM uc)
             |ORDER BY source""".stripMargin)),

    // ----- Proximity (slop) search over the same positional postings
    // as tx32 (the query shape between exact phrase and bag-of-words:
    // "data ... slow" with ≤ 4 intervening tokens, in order — what
    // search engines call a sloppy phrase; near-match evidence for
    // retrieval and for template detection where fixed phrases drift
    // by an inserted token). Postings prune to the two query terms at
    // the scan (predicate pushdown on the exploded frame), the pair
    // join is per-doc positional, and both engines compare only the
    // position DELTA so the 0- vs 1-based convention cancels. Output
    // per doc: hit count and tightest gap (min delta), rank-pinned.
    QueryDef(
      "tx37_proximity_search",
      (s, d) => {
        val Seq(w0, w1) = Seq("data", "slow")
        val slop = 4
        val posts = docs(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
          .filter(col("term").isin(w0, w1))
        posts.filter(col("term") === w0)
          .select(col("doc_id"), col("pos"))
          .join(posts.filter(col("term") === w1)
              .select(col("doc_id").as("d2"), col("pos").as("p2")),
            col("d2") === col("doc_id") &&
              col("p2") > col("pos") && col("p2") <= col("pos") + slop)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_hits"),
            min(col("p2") - col("pos")).cast("long").as("min_gap"))
          .orderBy(col("n_hits").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |p AS (SELECT doc_id, i AS pos, toks[i] AS term
             |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u
             |  WHERE toks[i] IN ('data', 'slow'))
             |SELECT a.doc_id AS doc_id, count(*) AS n_hits,
             |  CAST(min(b.pos - a.pos) AS BIGINT) AS min_gap
             |FROM p a JOIN p b ON b.doc_id = a.doc_id
             |  AND b.pos > a.pos AND b.pos <= a.pos + 4
             |WHERE a.term = 'data' AND b.term = 'slow'
             |GROUP BY 1 ORDER BY n_hits DESC, a.doc_id LIMIT 20""".stripMargin)),

    // ----- Isotonic (PAV) calibration over tx29's reliability bins
    // (tx29 REPORTS the per-bucket positive rate; serving a
    // calibrated probability additionally requires the MONOTONE
    // regression of rate on score — the pool-adjacent-violators fit
    // every production calibrator applies on top of the reliability
    // diagram). The sequential pooling loop has a CLOSED FORM over
    // relational algebra — iso(i) = max_{j≤i} min_{k≥i} wavg(j..k),
    // validated against the stack-pooling algorithm — so no
    // iteration: prefix sums give every interval's weighted rate as
    // ONE double division of exact longs, and the min/max sweep is
    // two grouped aggregations over the O(B²) interval grid (B ≤ 10
    // buckets ⇒ ≤ 1000 grid rows at ANY corpus scale; the corpus
    // collapses to the bins first, exactly as tx29). Output adds
    // iso_rate next to raw_rate; equality where the raw curve is
    // already monotone IS the fit.
    QueryDef(
      "tx38_isotonic_calibration",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val ext = base.agg(min("score").as("__lo"), max("score").as("__hi"))
        val agg = QualityClassifier.withQualityMedian(base).crossJoin(broadcast(ext))
          .filter(col("__hi") > col("__lo"))
          .select(
            least(floor((col("score") - col("__lo")) * 10.0 /
              (col("__hi") - col("__lo"))), lit(9.0)).cast("long").as("bucket"),
            (col("q") > col("__med")).as("label"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            sum(when(col("label"), 1L).otherwise(0L)).as("np"))
        val iw = Window.orderBy("bucket")
        val pre = agg
          .withColumn("i", row_number().over(iw).cast("long"))
          .withColumn("pc", sum("n").over(
            iw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("pp", sum("np").over(
            iw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val preB = broadcast(pre)
        val pairs = preB.select(col("i").as("j"), col("pc").as("pcj"),
            col("pp").as("ppj"))
          .join(preB.select(col("i").as("k"), col("pc").as("pck"),
            col("pp").as("ppk")), col("j") <= col("k"))
          .join(preB.select((col("i") + 1L).as("j"), col("pc").as("pcp"),
            col("pp").as("ppp")), Seq("j"), "left")
          .select(col("j"), col("k"),
            ((col("ppk") - coalesce(col("ppp"), lit(0L))).cast("double") /
              (col("pck") - coalesce(col("pcp"), lit(0L))).cast("double"))
              .as("wavg"))
        val mm = preB.select(col("i"))
          .join(pairs, col("j") <= col("i") && col("k") >= col("i"))
          .groupBy("i", "j").agg(min("wavg").as("mn"))
        val iso = mm.groupBy("i").agg(max("mn").as("iso"))
        pre.join(iso, Seq("i"))
          .select(col("bucket"), col("n"),
            round(col("np").cast("double") / col("n").cast("double"), 6)
              .as("raw_rate"),
            round(col("iso"), 6).as("iso_rate"))
          .orderBy("bucket")
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
              |ext AS (SELECT min(score) AS lo, max(score) AS hi FROM t),
              |agg AS (SELECT CAST(least(floor((score - (SELECT lo FROM ext))
              |      * 10.0 /
              |      ((SELECT hi FROM ext) - (SELECT lo FROM ext))), 9.0)
              |      AS BIGINT) AS bucket,
              |    CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END)
              |      AS BIGINT) AS np
              |  FROM t WHERE (SELECT hi FROM ext) > (SELECT lo FROM ext)
              |  GROUP BY 1),
              |pre AS (SELECT bucket, n, np,
              |    CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS i,
              |    CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS pc,
              |    CAST(sum(np) OVER (ORDER BY bucket) AS BIGINT) AS pp
              |  FROM agg),
              |pairs AS (SELECT a.i AS j, b.i AS k,
              |    CAST(b.pp - coalesce(aj.pp, 0) AS DOUBLE) /
              |    CAST(b.pc - coalesce(aj.pc, 0) AS DOUBLE) AS wavg
              |  FROM pre a JOIN pre b ON a.i <= b.i
              |  LEFT JOIN pre aj ON aj.i = a.i - 1),
              |mm AS (SELECT x.i, p.j, min(p.wavg) AS mn
              |  FROM pre x JOIN pairs p ON p.j <= x.i AND p.k >= x.i
              |  GROUP BY 1, 2),
              |iso AS (SELECT i, max(mn) AS iso FROM mm GROUP BY 1)
              |SELECT b.bucket, b.n,
              |  round(CAST(b.np AS DOUBLE) / b.n, 6) AS raw_rate,
              |  round(iso.iso, 6) AS iso_rate
              |FROM pre b JOIN iso ON b.i = iso.i ORDER BY bucket""".stripMargin)),

    // ----- Vocabulary growth curve at decile checkpoints (the
    // MEASURED Heaps curve — "is the vocabulary saturating or still
    // growing" decides tokenizer budgets and dedup aggressiveness;
    // tx6 reports the final vocabulary, this reports its GROWTH,
    // and deliberately measures rather than fits: no exponent
    // regression, no transcendental — the raw (tokens-seen, vocab)
    // pairs ARE the deliverable). A token contributes to the curve
    // at its FIRST document in doc_id order — the t_cumulative_users
    // first-seen reformulation applied to vocabulary (min(rank) per
    // token, one uniform token-key shuffle), then per-decile cutoffs
    // from a 1-row broadcast and two bounded ≤-joins; exact
    // integers end to end; output 10 rows at any corpus scale.
    // The doc rank comes from ops/Rank.globalPosition (range-
    // partitioned distributed rank over the SLIM doc_id column, no
    // single-partition Window, token arrays never ride the range
    // exchange) joined back on the unique key — identical positions
    // to row_number over doc_id.
    QueryDef(
      "tx39_vocab_growth",
      (s, d) => {
        val ids = graft.ops.Rank.globalPosition(
          docs(s, d).select("doc_id"), Seq(col("doc_id")), "r", tracked(_))
        val ranked = docs(s, d)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .join(ids, Seq("doc_id"))
        val nDocs = ranked.agg(max("r").as("nd"))
        val firstRank = ranked
          .select(col("r"), explode(col("toks")).as("tok"))
          .groupBy("tok").agg(min("r").as("fr"))
        val docToks = ranked.select(col("r"),
          size(col("toks")).cast("long").as("nt"))
        val cps = nDocs.select(
            explode(sequence(lit(1L), lit(10L))).as("c"), col("nd"))
          .select(col("c"),
            call_function("div", col("nd") * col("c") + 9L, lit(10L))
              .as("cutoff"))
        val vocabAt = cps.join(firstRank, col("fr") <= col("cutoff"))
          .groupBy("c", "cutoff").agg(count(lit(1)).as("vocab"))
        val toksAt = cps.join(docToks, col("r") <= col("cutoff"))
          .groupBy(col("c").as("c2")).agg(sum("nt").as("n_tokens"))
        vocabAt.join(toksAt, col("c") === col("c2"))
          .select(col("c").as("decile"), col("cutoff").as("n_docs"),
            col("n_tokens"), col("vocab"))
          .orderBy("decile")
      },
      Some("""WITH ranked AS (SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS r,
             |    string_split(text, ' ') AS toks
             |  FROM documents),
             |nd AS (SELECT CAST(max(r) AS BIGINT) AS nd FROM ranked),
             |fr AS (SELECT tok, CAST(min(r) AS BIGINT) AS fr
             |  FROM (SELECT r, unnest(toks) AS tok FROM ranked) GROUP BY 1),
             |dt AS (SELECT r, CAST(len(toks) AS BIGINT) AS nt FROM ranked),
             |cps AS (SELECT c, ((SELECT nd FROM nd) * c + 9) // 10 AS cutoff
             |  FROM (SELECT unnest(range(1, 11)) AS c)),
             |va AS (SELECT c, cutoff, CAST(count(*) AS BIGINT) AS vocab
             |  FROM cps JOIN fr ON fr.fr <= cps.cutoff GROUP BY 1, 2),
             |ta AS (SELECT c, CAST(sum(nt) AS BIGINT) AS n_tokens
             |  FROM cps JOIN dt ON dt.r <= cps.cutoff GROUP BY 1)
             |SELECT CAST(va.c AS BIGINT) AS decile, cutoff AS n_docs,
             |  n_tokens, vocab
             |FROM va JOIN ta ON va.c = ta.c ORDER BY decile""".stripMargin)),

    // ----- Cohen's kappa between the learned gate and the heuristic
    // label (the AGREEMENT statistic raw accuracy inflates: with an
    // 80/20 class split two raters agreeing 80% of the time may
    // agree no better than chance — κ subtracts the chance-agreement
    // floor, the standard check before one labeler replaces
    // another). Raters: tx20's pinned-logreg gate (score > 0) vs
    // tx29's quality-above-median heuristic. κ = (p_o − p_e)/(1 −
    // p_e) clears to a SINGLE division of exact longs:
    // (n(a+d) − [(a+b)(a+c) + (c+d)(b+d)]) / (n² − [...]) — the
    // 2×2 table is one scalars-only aggregation over per-row
    // arithmetic, everything integer until the final division.
    QueryDef(
      "tx40_cohens_kappa",
      (s, d) => {
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val cells = QualityClassifier.withQualityMedian(base)
          .select(when(col("score") > 0, 1L).otherwise(0L).as("r1"),
            when(col("q") > col("__med"), 1L).otherwise(0L).as("r2"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("r1") === 1L && col("r2") === 1L, 1L).otherwise(0L))
              .as("a"),
            sum(when(col("r1") === 1L && col("r2") === 0L, 1L).otherwise(0L))
              .as("b"),
            sum(when(col("r1") === 0L && col("r2") === 1L, 1L).otherwise(0L))
              .as("c"),
            sum(when(col("r1") === 0L && col("r2") === 0L, 1L).otherwise(0L))
              .as("dd"))
        cells
          .withColumn("pe_num", (col("a") + col("b")) * (col("a") + col("c"))
            + (col("c") + col("dd")) * (col("b") + col("dd")))
          .filter(col("n") * col("n") - col("pe_num") =!= 0L)
          .select(col("n"), col("a"), col("b"), col("c"), col("dd").as("d"),
            round((col("n") * (col("a") + col("dd")) - col("pe_num"))
              .cast("double") /
              (col("n") * col("n") - col("pe_num")).cast("double"), 6)
              .as("kappa"))
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
              |cells AS (SELECT
              |    CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(CASE WHEN score > 0 AND q > (SELECT m FROM med)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
              |    CAST(sum(CASE WHEN score > 0 AND q <= (SELECT m FROM med)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
              |    CAST(sum(CASE WHEN score <= 0 AND q > (SELECT m FROM med)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
              |    CAST(sum(CASE WHEN score <= 0 AND q <= (SELECT m FROM med)
              |      THEN 1 ELSE 0 END) AS BIGINT) AS d
              |  FROM t)
              |SELECT n, a, b, c, d,
              |  round(CAST(n * (a + d) - ((a + b) * (a + c) + (c + d) * (b + d))
              |      AS DOUBLE) /
              |    CAST(n * n - ((a + b) * (a + c) + (c + d) * (b + d))
              |      AS DOUBLE), 6) AS kappa
              |FROM cells
              |WHERE n * n - ((a + b) * (a + c) + (c + d) * (b + d)) <> 0""".stripMargin)),
    // ----- Benchmark decontamination via exact n-gram overlap (the
    // eval-integrity op every serious training corpus runs: a
    // training doc sharing a verbatim k-token run with an evaluation
    // benchmark leaks the benchmark into the model — the standard
    // remedy is exact n-gram matching, not fuzzy similarity, because
    // eval answers leak VERBATIM): benchmark slice = doc_id % 11 = 0
    // (stand-in for a real eval set; ~9% of the corpus), k = 5 token
    // grams through the shared poly shingle hash. Scale shape: the
    // benchmark gram set is |bench docs|x|grams/doc| — broadcast-
    // small next to any training corpus (a real eval suite is a few
    // MB of grams); the corpus side explodes to one row per gram,
    // meets the bench set on the gram key, and collapses straight
    // back to per-doc hit counts, so the only data-scale shuffle is
    // the doc-key re-agg. Output bounded by |sources|. P-collision
    // false positives are reproduced exactly by the mirror (the
    // NearDup contract), so the row is hash-stable.
    QueryDef(
      "tx41_decontamination",
      (s, d) => {
        val k = 5
        val base = docs(s, d)
          .select(col("doc_id"), col("source"),
            split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= k)
        val grams = tracked(base.select(col("doc_id"), col("source"),
          explode(graft.ext.NearDup.shingleHashList(col("toks"), k)).as("g")))
        val bench = grams.filter(col("doc_id") % 11 === 0)
          .select("g").distinct()
        val hits = grams.filter(col("doc_id") % 11 =!= 0)
          .join(bench, Seq("g"))
          .groupBy("doc_id", "source")
          .agg(countDistinct(col("g")).as("n_hit"))
        hits.groupBy("source")
          .agg(count(lit(1)).as("n_contaminated"),
            sum("n_hit").as("grams_hit"), max("n_hit").as("max_hit"))
          .orderBy("source")
      },
      Some(s"""WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS toks
             |  FROM documents),
             |grams AS (SELECT doc_id, source,
             |    unnest(${graft.ext.NearDup.Sql.shingleHashList(5)}) AS g
             |  FROM toks WHERE len(toks) >= 5),
             |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0),
             |hits AS (SELECT g.doc_id, g.source,
             |    CAST(count(DISTINCT g.g) AS BIGINT) AS n_hit
             |  FROM grams g JOIN bench b ON g.g = b.g
             |  WHERE g.doc_id % 11 <> 0 GROUP BY 1, 2)
             |SELECT source, count(*) AS n_contaminated,
             |  CAST(sum(n_hit) AS BIGINT) AS grams_hit,
             |  CAST(max(n_hit) AS BIGINT) AS max_hit
             |FROM hits GROUP BY 1 ORDER BY source""".stripMargin)),
    // ----- Sequence packing audit (the pretraining batcher's op:
    // concatenate docs in a pinned order and slice into fixed
    // token-budget sequences; the histogram of docs-started-per-pack
    // is the fragmentation read-out that decides whether you pack
    // greedily or length-sort first): cum tokens via ops/Rank
    // .runningTotals over the SLIM (doc_id, n_tokens) frame — a
    // data-scale prefix sum with NO single-partition window (the
    // round-8 primitive consumed at full row scale, not just on
    // grids); pack_id = (cum - nt) div B is the pack each doc STARTS
    // in under concat-then-chunk; double collapse to the
    // docs-per-pack histogram bounds the output by the distinct
    // start-count values. B = 2048 tokens.
    QueryDef(
      "tx42_sequence_packing",
      (s, d) => {
        val B = 2048L
        val slim = docs(s, d).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        val cum = graft.ops.Rank.runningTotals(
          slim, Seq(col("doc_id")), Seq("nt" -> "cum"), tracked(_))
        cum.select(call_function("div", col("cum") - col("nt"), lit(B))
            .as("pack_id"))
          .groupBy("pack_id").agg(count(lit(1)).as("docs_started"))
          .groupBy("docs_started").agg(count(lit(1)).as("n_packs"))
          .orderBy("docs_started")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split(text,' ')) AS BIGINT) AS nt
             |  FROM documents),
             |c AS (SELECT doc_id, nt, CAST(sum(nt) OVER (ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum FROM d),
             |p AS (SELECT (cum - nt) // 2048 AS pack_id FROM c),
             |hist AS (SELECT pack_id, CAST(count(*) AS BIGINT)
             |    AS docs_started FROM p GROUP BY 1)
             |SELECT docs_started, CAST(count(*) AS BIGINT) AS n_packs
             |FROM hist GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- Exact AUC of the learned quality gate (the ranking-eval
    // scalar tx28's threshold metrics cannot see: precision/recall
    // judge ONE cut point, AUC judges the whole score ORDERING —
    // "does a random positive outscore a random negative", which is
    // what score-weighted sampling and threshold tuning consume).
    // AUC = U/(n1*n0) is the Mann-Whitney relation, so the a38
    // machinery applies verbatim: collapse to the distinct
    // score-micros grid, cum via ops/Rank (no single-partition
    // window), doubled tie-averaged ranks keep everything in exact
    // longs — AUC = (R1x2 - n1(n1+1)) / (2*n1*n0), ONE division,
    // round 6. Score = the pinned logreg gate, label = the
    // quality-above-median heuristic (tx28's two signals, evaluated
    // as a ranking instead of a confusion table).
    QueryDef(
      "tx43_auc_exact",
      (s, d) => {
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val xs = QualityClassifier.withQualityMedian(base)
          .select(expr("CAST(round(score * 1000000) AS BIGINT)").as("x"),
            when(col("q") > col("__med"), 1L).otherwise(0L).as("g1"))
        val grid = xs.groupBy("x")
          .agg(count(lit(1)).as("t"), sum("g1").as("c1"))
        val cum = graft.ops.Rank.runningTotals(
          grid, Seq(col("x")), Seq("t" -> "cum"), tracked(_))
        val st = cum.agg(sum("c1").as("n1"),
          (sum("t") - sum("c1")).as("n0"),
          sum(col("c1") * (lit(2L) * col("cum") - col("t") + lit(1L)))
            .as("r1x2"))
        st.filter(col("n1") > 0L && col("n0") > 0L)
          .select(col("n1"), col("n0"),
            round((col("r1x2") - col("n1") * (col("n1") + 1L)).cast("double")
              / (lit(2.0) * (col("n1") * col("n0")).cast("double")), 6)
              .as("auc"))
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
             |xs AS (SELECT CAST(round(score * 1000000) AS BIGINT) AS x,
             |    CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END AS g1
             |  FROM t),
             |grid AS (SELECT x, CAST(count(*) AS BIGINT) AS t,
             |    CAST(sum(g1) AS BIGINT) AS c1 FROM xs GROUP BY 1),
             |c AS (SELECT x, t, c1, CAST(sum(t) OVER (ORDER BY x
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS BIGINT) AS cum FROM grid),
             |st AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             |    CAST(sum(t) - sum(c1) AS BIGINT) AS n0,
             |    CAST(sum(c1 * (2 * cum - t + 1)) AS BIGINT) AS r1x2
             |  FROM c)
             |SELECT n1, n0,
             |  round(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
             |    / (2.0 * CAST(n1 * n0 AS DOUBLE)), 6) AS auc
             |FROM st WHERE n1 > 0 AND n0 > 0""".stripMargin)),
    // ----- PMI collocations over a ±2-token skip-gram window (the
    // word2vec-era association statistic: j10's lift corrects basket
    // co-occurrence for marginals, PMI does the same for TEXT with
    // the log taken — "which token pairs co-occur far above chance"
    // is the collocation/phrase-mining primitive behind tokenizer
    // merges and phrase search): positional co-occurrence from ONE
    // doc-key self-join on posexplode'd tokens (window b.pos − a.pos
    // ∈ [1,2], a.tok < b.tok orientation), min-count cut INSIDE the
    // pair agg; PMI = ln(c_ab·N/(c_a·c_b)) on exact longs with the
    // textually-pinned ln (the G²/bigram-LM precedent), top-20 by
    // (6-dp PMI desc, pair) via TakeOrdered.
    QueryDef(
      "tx45_pmi_collocations",
      (s, d) => {
        val toks = tracked(docs(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("tok")))
        val n = toks.agg(count(lit(1)).as("__n"))
        val u = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val co = toks.as("a").join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") - col("a.pos") >= 1 &&
              col("b.pos") - col("a.pos") <= 2 &&
              col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("ta"), col("b.tok").as("tb"))
          .agg(count(lit(1)).as("cab"))
          .filter(col("cab") >= 5)
        co.join(u.select(col("tok").as("ta"), col("c").as("ca")), Seq("ta"))
          .join(u.select(col("tok").as("tb"), col("c").as("cb")), Seq("tb"))
          .crossJoin(broadcast(n))
          .select(col("ta"), col("tb"), col("cab"),
            round(log(col("cab").cast("double") * col("__n") /
              (col("ca") * col("cb")).cast("double")), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("ta"), col("tb"))
          .limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(string_split(text,' ')) AS tok,
             |    unnest(generate_series(1, len(string_split(text,' '))))
             |      AS pos
             |  FROM documents),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
             |u AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
             |  FROM toks GROUP BY 1),
             |co AS (SELECT a.tok AS ta, b.tok AS tb,
             |    CAST(count(*) AS BIGINT) AS cab
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id
             |    AND b.pos - a.pos BETWEEN 1 AND 2 AND a.tok < b.tok
             |  GROUP BY 1, 2 HAVING count(*) >= 5)
             |SELECT ta, tb, cab,
             |  round(ln(CAST(cab AS DOUBLE) * (SELECT n FROM n)
             |    / CAST(ua.c * ub.c AS DOUBLE)), 6) AS pmi
             |FROM co JOIN u ua ON ta = ua.tok JOIN u ub ON tb = ub.tok
             |ORDER BY pmi DESC, ta, tb LIMIT 20""".stripMargin)),

    // ----- Source style distance via per-mille token profiles (the
    // stylometry / domain-shift read-out: which sources write most
    // unlike each other — the signal behind domain-balanced mixtures
    // and source-aware dedup; a simplified Burrows-Delta with the
    // z-normalization replaced by EXACT per-mille frequencies so the
    // whole matrix is integers): profile = (c·10⁵) div total per
    // (source, token) DENSIFIED over the full source×vocab grid
    // (absent tokens are 0 — an inner sparse join would silently
    // drop one-sided tokens and understate every distance), distance
    // = Σ|pm₁ − pm₂| per source pair. Grid bounded by
    // \|sources\|·\|vocab\|; output \|sources\|²/2 rows.
    QueryDef(
      "tx46_style_distance",
      (s, d) => {
        val toks = tracked(docs(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok")))
        val tot = toks.groupBy("source").agg(count(lit(1)).as("t"))
        val f = toks.groupBy("source", "tok").agg(count(lit(1)).as("c"))
        val grid = tot.select("source", "t")
          .crossJoin(toks.select("tok").distinct())
          .join(f, Seq("source", "tok"), "left")
          .select(col("source"), col("tok"),
            call_function("div",
              coalesce(col("c"), lit(0L)) * 100000L, col("t")).as("pm"))
        val a = grid.select(col("source").as("s1"), col("tok"),
          col("pm").as("p1"))
        val b = grid.select(col("source").as("s2"), col("tok"),
          col("pm").as("p2"))
        a.join(b, Seq("tok")).filter(col("s1") < col("s2"))
          .groupBy("s1", "s2")
          .agg(sum(abs(col("p1") - col("p2"))).as("l1_permille"))
          .orderBy(col("l1_permille").desc, col("s1"), col("s2"))
      },
      Some("""WITH toks AS (SELECT source,
             |    unnest(string_split(text,' ')) AS tok FROM documents),
             |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t
             |  FROM toks GROUP BY 1),
             |f AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM toks GROUP BY 1, 2),
             |vocab AS (SELECT DISTINCT tok FROM toks),
             |grid AS (SELECT tot.source, v.tok,
             |    CAST(coalesce(f.c, 0) * 100000 // tot.t AS BIGINT) AS pm
             |  FROM tot CROSS JOIN vocab v
             |  LEFT JOIN f ON f.source = tot.source AND f.tok = v.tok)
             |SELECT a.source AS s1, b.source AS s2,
             |  CAST(sum(abs(a.pm - b.pm)) AS BIGINT) AS l1_permille
             |FROM grid a JOIN grid b ON a.tok = b.tok
             |  AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY l1_permille DESC, s1, s2""".stripMargin)),

    // ----- Brier score DECOMPOSITION of the learned quality gate —
    // the calibration read that completes the eval family: tx43's
    // AUC measures pure RANKING (invariant to any monotone rescale),
    // tx29's calibration curve shows per-bin gaps, Murphy's
    // decomposition Brier = REL − RES + UNC says WHY the score is
    // good or bad: reliability (are stated probabilities honest),
    // resolution (do bins separate outcomes), uncertainty (the
    // irreducible base-rate floor). The probability link is the
    // PINNED RATIONAL squash p = 1/2 + z/(2(1+|z|)) — monotone
    // ℝ→(0,1) with no exp (sigmoid is transcendental and not
    // cross-engine correctly-rounded; the squash is part of the
    // pinned model artifact, and its miscalibration is exactly what
    // REL then measures: 0.014 at sf0.01). Determinism: p pins to
    // the integer x = round(p·10⁶) (the tx43 move), decile bins
    // carry ONLY integer (n, Σx, Σy) — no float crosses a shuffle —
    // and the ≤10 per-bin terms fold in pinned bin order over a
    // packed list with the identity assembled in ONE expression.
    // The decomposition identity is exact because the forecaster is
    // evaluated at bin granularity (p̄_k), the textbook binned form.
    QueryDef(
      "tx48_brier_decomp",
      (s, d) => {
        val base = QualityClassifier.scoreAndQuality(docs(s, d))
        val py = QualityClassifier.withQualityMedian(base)
          .select(expr("CAST(round((0.5 + score / (2.0 * (1.0 + abs(score))))" +
            " * 1000000) AS BIGINT)").as("x"),
            when(col("q") > col("__med"), 1L).otherwise(0L).as("y"))
        val bins = py
          .groupBy(least(call_function("div", col("x"), lit(100000L)), lit(9L))
            .as("k"))
          .agg(count(lit(1)).as("n"), sum("x").as("sk"), sum("y").as("yk"))
        val tot = bins.agg(sum("n").as("nn"), sum("yk").as("yy"))
        val pdiff = col("sk").cast("double") / lit(1000000.0) -
          col("yk").cast("double")
        val ydiff = col("yk").cast("double") / col("n").cast("double") -
          col("yy").cast("double") / col("nn").cast("double")
        val terms = bins.crossJoin(broadcast(tot))
          .select(col("k"), col("nn"), col("yy"),
            (pdiff * pdiff / col("n").cast("double")).as("trel"),
            (col("n").cast("double") * ydiff * ydiff).as("tres"))
        val nnD = col("nn").cast("double")
        val yyD = col("yy").cast("double")
        terms.groupBy("nn", "yy")
          .agg(sort_array(collect_list(struct(col("k"), col("trel"),
            col("tres")))).as("xs"))
          .select(col("nn"), col("yy"),
            expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, x) -> a + x.trel)")
              .as("srel"),
            expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, x) -> a + x.tres)")
              .as("sres"))
          .select(col("nn").as("n"),
            round(yyD / nnD, 6).as("pos_rate"),
            round(col("srel") / nnD, 6).as("reliability"),
            round(col("sres") / nnD, 6).as("resolution"),
            round(yyD / nnD * (lit(1.0) - yyD / nnD), 6).as("uncertainty"),
            round(col("srel") / nnD - col("sres") / nnD +
              yyD / nnD * (lit(1.0) - yyD / nnD), 6).as("brier"))
      },
      Some(s"""WITH ${QualityClassifier.Sql.scoreAndQuality("t")},
             |py AS (SELECT CAST(round((0.5 + score / (2.0 * (1.0
             |      + abs(score)))) * 1000000) AS BIGINT) AS x,
             |    CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END AS y
             |  FROM t),
             |bins AS (SELECT least(x // 100000, 9) AS k,
             |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sk,
             |    CAST(sum(y) AS BIGINT) AS yk
             |  FROM py GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
             |    CAST(sum(yk) AS BIGINT) AS yy FROM bins),
             |terms AS (SELECT k,
             |    (CAST(sk AS DOUBLE)/1000000.0 - CAST(yk AS DOUBLE))
             |      * (CAST(sk AS DOUBLE)/1000000.0 - CAST(yk AS DOUBLE))
             |      / CAST(n AS DOUBLE) AS trel,
             |    CAST(n AS DOUBLE) * (CAST(yk AS DOUBLE)/CAST(n AS DOUBLE)
             |      - CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE))
             |      * (CAST(yk AS DOUBLE)/CAST(n AS DOUBLE)
             |      - CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE)) AS tres
             |  FROM bins, tot),
             |packed AS (SELECT list_sort(list(struct_pack(k := k,
             |    trel := trel, tres := tres))) AS xs FROM terms),
             |f AS (SELECT
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(xs, x -> x.trel)), (a, v) -> a + v)
             |      AS srel,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(xs, x -> x.tres)), (a, v) -> a + v)
             |      AS sres
             |  FROM packed)
             |SELECT nn AS n,
             |  round(CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE), 6) AS pos_rate,
             |  round(srel/CAST(nn AS DOUBLE), 6) AS reliability,
             |  round(sres/CAST(nn AS DOUBLE), 6) AS resolution,
             |  round(CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE)
             |    * (1.0 - CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE)), 6)
             |    AS uncertainty,
             |  round(srel/CAST(nn AS DOUBLE) - sres/CAST(nn AS DOUBLE)
             |    + CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE)
             |    * (1.0 - CAST(yy AS DOUBLE)/CAST(nn AS DOUBLE)), 6)
             |    AS brier
             |FROM f, tot""".stripMargin)),

    // ----- Gini-impurity feature ranking — decision-stump feature
    // selection for the quality gate WITHOUT logs (information gain
    // needs log₂, which is transcendental and not cross-engine
    // correctly-rounded; Gini 2p(1−p) is the CART impurity and pure
    // rational arithmetic): for each of the 16 pinned marker words,
    // split the corpus on word-presence and rank by impurity
    // DECREASE vs the gate label — the screen that says which
    // features the logreg (E102) actually had to work with, and the
    // first stage of any tree/stump ensemble over corpus signals.
    // Shape: ONE corpus pass — presence rides the same wordFreqs
    // vector the classifier uses (posexplode → 16·N skinny rows →
    // grouped integer counts); the DuckDB mirror re-scans per word
    // (16 generated UNION ALL arms) which is exactly the redundancy
    // the vectorized freqs pass avoids — the shape difference IS the
    // scale point. Counts stay integers across the shuffle; each
    // gain is ONE pinned rational expression with zero-branch
    // guards.
    QueryDef(
      "tx49_gini_features",
      (s, d) => {
        val words = QualityClassifier.featureWords
        val base = docs(s, d)
          .withColumn("__toks", TextAnalysis.tokens(col("text")))
          .select(TextAnalysis.wordFreqs(col("__toks"), words).as("fr"),
            TextAnalysis.qualityScoreTokens(col("__toks")).as("q"))
        val py = QualityClassifier.withQualityMedian(base)
          .select(col("fr"),
            when(col("q") > col("__med"), 1L).otherwise(0L).as("y"))
        val st = py
          .select(col("y"), posexplode(col("fr")).as(Seq("i", "cnt")))
          .groupBy("i")
          .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n1"),
            sum(when(col("cnt") > 0, col("y")).otherwise(0L)).as("p1"),
            count(lit(1)).as("n"), sum("y").as("p"))
        def gini(p: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          lit(2.0) * (p.cast("double") / n.cast("double")) *
            (lit(1.0) - p.cast("double") / n.cast("double"))
        val n0 = col("n") - col("n1")
        val p0 = col("p") - col("p1")
        st.select(
          element_at(array(words.map(lit): _*), col("i") + 1).as("w"),
          col("n1").as("n_present"),
          round(gini(col("p"), col("n")) -
            (when(col("n1") > 0, col("n1").cast("double") /
              col("n").cast("double") * gini(col("p1"), col("n1")))
              .otherwise(lit(0.0)) +
              when(n0 > 0, n0.cast("double") / col("n").cast("double") *
                gini(p0, n0)).otherwise(lit(0.0))), 6).as("gain"))
          .orderBy(col("gain").desc, col("w"))
      },
      Some {
        val words = QualityClassifier.featureWords
        val arms = words.map(w =>
          s"""SELECT '$w' AS w,
             |  CAST(CASE WHEN ${TS.wordCount(w)} > 0 THEN 1 ELSE 0 END
             |    AS BIGINT) AS pres, y FROM py""".stripMargin)
          .mkString("\n  UNION ALL\n  ")
        s"""WITH t AS (SELECT text, ${TS.qualityScore} AS q FROM documents),
           |${QualityClassifier.Sql.qualityMedian("t")},
           |py AS (SELECT text,
           |    CASE WHEN q > (SELECT m FROM med) THEN 1 ELSE 0 END AS y
           |  FROM t),
           |pw AS ($arms),
           |st AS (SELECT w, CAST(sum(pres) AS BIGINT) AS n1,
           |    CAST(sum(pres*y) AS BIGINT) AS p1,
           |    CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
           |  FROM pw GROUP BY 1)
           |SELECT w, n1 AS n_present,
           |  round(2.0 * (CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
           |      * (1.0 - CAST(p AS DOUBLE)/CAST(n AS DOUBLE))
           |    - (CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE)/CAST(n AS DOUBLE)
           |        * (2.0 * (CAST(p1 AS DOUBLE)/CAST(n1 AS DOUBLE))
           |          * (1.0 - CAST(p1 AS DOUBLE)/CAST(n1 AS DOUBLE)))
           |        ELSE 0.0 END
           |      + CASE WHEN n - n1 > 0
           |        THEN CAST(n - n1 AS DOUBLE)/CAST(n AS DOUBLE)
           |        * (2.0 * (CAST(p - p1 AS DOUBLE)/CAST(n - n1 AS DOUBLE))
           |          * (1.0 - CAST(p - p1 AS DOUBLE)/CAST(n - n1 AS DOUBLE)))
           |        ELSE 0.0 END), 6) AS gain
           |FROM st ORDER BY gain DESC, w""".stripMargin
      }),

    // ----- Unigram-LM Viterbi segmentation with a PINNED piece table
    // — the SentencePiece-style tokenizer that completes the
    // tokenizer family (tx8/tx8b train BPE merges bottom-up, the BPE
    // encoder applies a pinned merge list; unigram segmentation
    // instead finds the GLOBALLY optimal split of each word under a
    // piece cost model — the algorithm inside SentencePiece's
    // default mode). The DP is exact integer: combined value =
    // cost*1000 + pieces, so ONE min both optimizes cost and,
    // through the +1 per piece, tie-breaks toward fewer pieces — and
    // the piece count of the optimal path rides out as comb % 1000
    // with no backtrace. Scale discipline: the Viterbi runs on the
    // DISTINCT VOCABULARY (bounded — the classic tokenizer trick),
    // never the corpus; token instances join back by word for
    // source-weighted stats; words pinned to length <= 20 (the fold
    // is O(len*|pieces|)). The 46-piece table (20 multi-char + a-z
    // singles, unknown-char fallback 100) is pinned literally in
    // BOTH engines; the recurrence reuses the t_dtw nested-fold
    // machinery (Spark aggregate HOF with init, DuckDB
    // singleton-list list_reduce).
    QueryDef(
      "tx50_unigram_viterbi",
      (s, d) => {
        val tf = tracked(docs(s, d)
          .select(col("source"),
            explode(TextAnalysis.tokens(col("text"))).as("w"))
          .filter(length(col("w")).between(1, 20))
          .groupBy("source", "w").agg(count(lit(1)).as("cnt")))
        val vocab = tf.select("w").distinct()
        val dp = vocab
          .withColumn("__ps", expr("array('the','ing','ion','ent','er','in','on','an','re','at','en','es','or','te','ti','nd','st','ar','al','ed','a','b','c','d','e','f','g','h','i','j','k','l','m','n','o','p','q','r','s','t','u','v','w','x','y','z')"))
          .withColumn("__pc", expr("array(50L,55L,60L,60L,38L,36L,38L,38L,38L,40L,40L,40L,42L,42L,42L,42L,42L,44L,44L,40L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L,60L)"))
          .select(col("w"), expr("""element_at(aggregate(sequence(1, length(w)),
          CAST(array() AS ARRAY<BIGINT>),
          (acc, i) -> concat(acc, array(least(
            array_min(transform(sequence(1, 46), j ->
              CASE WHEN i >= length(element_at(__ps, j))
                AND substring(w, i - length(element_at(__ps, j)) + 1,
                      length(element_at(__ps, j))) = element_at(__ps, j)
              THEN (CASE WHEN i = length(element_at(__ps, j))
                    THEN CAST(0 AS BIGINT)
                    ELSE element_at(acc, i - length(element_at(__ps, j)))
                    END) + element_at(__pc, j)*1000 + 1
              ELSE CAST(1000000000000000 AS BIGINT) END)),
            (CASE WHEN i = 1 THEN CAST(0 AS BIGINT)
             ELSE element_at(acc, i - 1) END) + 100*1000 + 1)))),
          length(w))""").as("comb"))
        val st = tf.join(dp, Seq("w"))
          .groupBy("source")
          .agg(sum("cnt").as("n_tokens"),
            sum(col("cnt") * (col("comb") % 1000)).as("tot_pieces"),
            sum(col("cnt") * call_function("div", col("comb"), lit(1000L)))
              .as("tot_cost"))
        st.select(col("source"), col("n_tokens"),
          round(col("tot_pieces").cast("double")
            / col("n_tokens").cast("double"), 6).as("avg_pieces"),
          round(col("tot_cost").cast("double")
            / col("n_tokens").cast("double"), 6).as("avg_cost"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source,
             |    unnest(string_split(text,' ')) AS w FROM documents),
             |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
             |  FROM toks WHERE length(w) BETWEEN 1 AND 20 GROUP BY 1, 2),
             |vocab AS (SELECT DISTINCT w FROM tf),
             |dp AS (SELECT w,
             |  list_reduce(
             |    list_prepend(CAST([] AS BIGINT[]),
             |      list_transform(range(1, length(w)+1),
             |        i -> [CAST(i AS BIGINT)])),
             |    (acc, x) -> list_append(acc,
             |      least(
             |        list_min(list_transform([struct_pack(p:='the', c:=50),struct_pack(p:='ing', c:=55),struct_pack(p:='ion', c:=60),struct_pack(p:='ent', c:=60),struct_pack(p:='er', c:=38),struct_pack(p:='in', c:=36),struct_pack(p:='on', c:=38),struct_pack(p:='an', c:=38),struct_pack(p:='re', c:=38),struct_pack(p:='at', c:=40),struct_pack(p:='en', c:=40),struct_pack(p:='es', c:=40),struct_pack(p:='or', c:=42),struct_pack(p:='te', c:=42),struct_pack(p:='ti', c:=42),struct_pack(p:='nd', c:=42),struct_pack(p:='st', c:=42),struct_pack(p:='ar', c:=44),struct_pack(p:='al', c:=44),struct_pack(p:='ed', c:=40),struct_pack(p:='a', c:=60),struct_pack(p:='b', c:=60),struct_pack(p:='c', c:=60),struct_pack(p:='d', c:=60),struct_pack(p:='e', c:=60),struct_pack(p:='f', c:=60),struct_pack(p:='g', c:=60),struct_pack(p:='h', c:=60),struct_pack(p:='i', c:=60),struct_pack(p:='j', c:=60),struct_pack(p:='k', c:=60),struct_pack(p:='l', c:=60),struct_pack(p:='m', c:=60),struct_pack(p:='n', c:=60),struct_pack(p:='o', c:=60),struct_pack(p:='p', c:=60),struct_pack(p:='q', c:=60),struct_pack(p:='r', c:=60),struct_pack(p:='s', c:=60),struct_pack(p:='t', c:=60),struct_pack(p:='u', c:=60),struct_pack(p:='v', c:=60),struct_pack(p:='w', c:=60),struct_pack(p:='x', c:=60),struct_pack(p:='y', c:=60),struct_pack(p:='z', c:=60)], pc ->
             |          CASE WHEN x[1] >= length(pc.p)
             |            AND substr(w, CAST(x[1] - length(pc.p) + 1 AS INT),
             |                  length(pc.p)) = pc.p
             |          THEN (CASE WHEN x[1] = length(pc.p) THEN 0
             |                ELSE acc[CAST(x[1] - length(pc.p) AS INT)] END)
             |               + pc.c*1000 + 1
             |          ELSE CAST(1000000000000000 AS BIGINT) END)),
             |        (CASE WHEN x[1] = 1 THEN 0
             |         ELSE acc[CAST(x[1]-1 AS INT)] END) + 100*1000 + 1))
             |  )[CAST(length(w) AS INT)] AS comb
             |  FROM vocab),
             |st AS (SELECT tf.source,
             |    CAST(sum(cnt) AS BIGINT) AS n_tokens,
             |    CAST(sum(cnt * (dp.comb % 1000)) AS BIGINT) AS tot_pieces,
             |    CAST(sum(cnt * (dp.comb // 1000)) AS BIGINT) AS tot_cost
             |  FROM tf JOIN dp USING (w) GROUP BY 1)
             |SELECT source, n_tokens,
             |  round(CAST(tot_pieces AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6)
             |    AS avg_pieces,
             |  round(CAST(tot_cost AS DOUBLE)/CAST(n_tokens AS DOUBLE), 6)
             |    AS avg_cost
             |FROM st ORDER BY source""".stripMargin)),

    // ----- RAKE keyword extraction (Rose et al. — the degree/
    // frequency keyword scorer completing the keyphrase family:
    // tx10's TF-IDF ranks single terms by corpus contrast, tx27's
    // TextRank runs a graph fixpoint, RAKE is the one-pass
    // co-occurrence heuristic production pipelines reach for first):
    // candidate phrases = maximal stopword-free token runs, found by
    // gaps-and-islands (island = pos − row_number among non-stop
    // tokens, a DOC-partitioned window — frames are document-sized,
    // never corpus-sized); word score = deg/freq where deg counts
    // phrase-mate co-occurrences INCLUDING self (Σ phrase_len over
    // the word's phrase instances), carried as the exact integer
    // deg·10⁶ div freq; phrase score = Σ member-word scores —
    // computed as sum-over-occurrences div n_occ, which divides
    // EXACTLY because equal phrase text ⇒ equal member multiset.
    // Global top-15 via orderBy+limit (TakeOrderedAndProject — the
    // g6 discipline, no rank window). One token shuffle, one
    // word-key shuffle, one phrase-key shuffle — all uniform keys.
    QueryDef(
      "tx51_rake_keywords",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val stop = graft.ext.TextAnalysis.qualityStopwords
        val toks = docs(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " "))
            .as(Seq("pos", "tok")))
        val ns = toks
          .filter(!col("tok").isin(stop: _*) && col("tok") =!= "")
          .withColumn("rn", row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")))
          .withColumn("island", col("pos") - col("rn"))
        val ph = tracked(ns.select("doc_id", "island", "pos", "tok"))
        val phrases = tracked(ph.groupBy("doc_id", "island")
          .agg(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok"))).as("phrase"),
            count(lit(1)).as("plen")))
        val words = phrases.join(ph, Seq("doc_id", "island"))
        val ws = words.groupBy("tok")
          .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
          .select(col("tok"),
            call_function("div", col("deg") * 1000000L, col("freq"))
              .as("wscore"))
        words.join(ws, Seq("tok"))
          .groupBy("phrase")
          .agg(max("plen").as("n_words"),
            countDistinct(struct(col("doc_id"), col("island"))).as("n_occ"),
            sum("wscore").as("__ssum"))
          .select(col("phrase"), col("n_words"), col("n_occ"),
            call_function("div", col("__ssum"), col("n_occ")).as("score"))
          .orderBy(col("score").desc, col("phrase"))
          .limit(15)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, j AS pos, string_split(text, ' ')[j] AS tok
             |  FROM (SELECT doc_id, text,
             |      unnest(generate_series(1, len(string_split(text, ' '))))
             |        AS j
             |    FROM documents)),
             |ns AS (SELECT doc_id, pos, tok,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY pos)
             |      AS rn
             |  FROM toks
             |  WHERE tok NOT IN ('the','a','and','of') AND tok != ''),
             |ph AS (SELECT doc_id, pos - rn AS island, pos, tok FROM ns),
             |phrases AS (SELECT doc_id, island,
             |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
             |    CAST(count(*) AS BIGINT) AS plen
             |  FROM ph GROUP BY 1, 2),
             |words AS (SELECT p.doc_id, p.island, p.phrase, p.plen, ph.tok
             |  FROM phrases p
             |  JOIN ph ON p.doc_id = ph.doc_id AND p.island = ph.island),
             |ws AS (SELECT tok,
             |    (CAST(sum(plen) AS BIGINT) * 1000000)
             |      // CAST(count(*) AS BIGINT) AS wscore
             |  FROM words GROUP BY 1),
             |pscore AS (SELECT w.phrase,
             |    CAST(max(w.plen) AS BIGINT) AS n_words,
             |    CAST(count(DISTINCT (w.doc_id, w.island)) AS BIGINT)
             |      AS n_occ,
             |    CAST(sum(ws.wscore) AS BIGINT)
             |      // CAST(count(DISTINCT (w.doc_id, w.island)) AS BIGINT)
             |      AS score
             |  FROM words w JOIN ws ON w.tok = ws.tok GROUP BY 1)
             |SELECT phrase, n_words, n_occ, score FROM pscore
             |ORDER BY score DESC, phrase LIMIT 15""".stripMargin)),

    // ----- Fleiss' kappa across THREE raters (the multi-rater
    // chance-corrected agreement tx40's Cohen kappa cannot express —
    // Cohen is pairwise-only; Fleiss is what an annotation pipeline
    // reports when 3+ labelers or 3+ heuristic gates vote): raters =
    // two correlated length rules (chars > 280, tokens > 55) plus
    // one orthogonal rule (lang = 'en'), so the statistic exercises
    // the interesting regime — high pairwise agreement between the
    // length twins diluted by the independent third. ALL-RATIONAL:
    // per doc the agreeing pair count is C(k,2)+C(3−k,2) ∈ {1,3} for
    // k passing raters, so kappa = (3N·SA − SK² − (3N−SK)²) /
    // ((3N)² − SK² − (3N−SK)²) from three exact integer sums (ONE
    // corpus pass, scalars-only shuffle); displayed at 6 dp via one
    // pinned division, ordering-free (single row).
    QueryDef(
      "tx52_fleiss_kappa",
      (s, d) => {
        val r = docs(s, d).select(
          when(col("n_chars") > 280, 1L).otherwise(0L).as("r1"),
          when(size(split(col("text"), " ")) > 55, 1L).otherwise(0L)
            .as("r2"),
          when(col("lang") === "en", 1L).otherwise(0L).as("r3"))
          .withColumn("k", col("r1") + col("r2") + col("r3"))
        // k(k−1) + (3−k)(2−k) is even for every k ∈ 0..3, so the
        // pair count divides exactly (integer div, never `/`)
        val agg = r.agg(count(lit(1)).as("n"),
          sum("r1").as("p1"), sum("r2").as("p2"), sum("r3").as("p3"),
          sum("k").as("sk"),
          sum(call_function("div",
            col("k") * (col("k") - 1L)
              + (lit(3L) - col("k")) * (lit(2L) - col("k")),
            lit(2L))).as("sa"))
        agg.select(col("n").as("n_docs"), col("p1"), col("p2"), col("p3"),
          col("sa").as("agree_pairs"),
          round((lit(3L) * col("n") * col("sa")
            - col("sk") * col("sk")
            - (lit(3L) * col("n") - col("sk"))
              * (lit(3L) * col("n") - col("sk"))).cast("double")
            / (lit(9L) * col("n") * col("n")
              - col("sk") * col("sk")
              - (lit(3L) * col("n") - col("sk"))
                * (lit(3L) * col("n") - col("sk"))).cast("double"), 6)
            .as("kappa"))
      },
      Some("""WITH r AS (SELECT
             |    CASE WHEN n_chars > 280 THEN 1 ELSE 0 END AS r1,
             |    CASE WHEN len(string_split(text, ' ')) > 55 THEN 1
             |      ELSE 0 END AS r2,
             |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS r3
             |  FROM documents),
             |k AS (SELECT r1, r2, r3, r1 + r2 + r3 AS k FROM r),
             |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(r1) AS BIGINT) AS p1,
             |    CAST(sum(r2) AS BIGINT) AS p2,
             |    CAST(sum(r3) AS BIGINT) AS p3,
             |    CAST(sum(k) AS BIGINT) AS sk,
             |    CAST(sum((k*(k-1) + (3-k)*(2-k)) // 2) AS BIGINT) AS sa
             |  FROM k)
             |SELECT n AS n_docs, p1, p2, p3, sa AS agree_pairs,
             |  round(CAST(3*n*sa - sk*sk - (3*n-sk)*(3*n-sk) AS DOUBLE)
             |    / CAST(9*n*n - sk*sk - (3*n-sk)*(3*n-sk) AS DOUBLE), 6)
             |    AS kappa
             |FROM agg""".stripMargin)),

    // ----- Kendall's W across three per-source RANKINGS (the
    // rank-concordance companion of tx52's label agreement — Fleiss
    // asks "do the raters assign the same class", W asks "do three
    // metrics ORDER the sources the same way", the multi-judge
    // leaderboard-stability read): judges = doc count, total chars,
    // total tokens per source; each ranking is a runningTotals
    // ones-count over the per-source grid (the source key is
    // data-scale at the north-star workload — round-8 verdict item 4
    // — so ranks ride the range-exchange primitive, never an
    // unpartitioned window; ties broken by source name, so ranks are
    // permutations and the no-ties W form is exact). The statistic
    // is ALL-INTEGER via doubling: Dᵢ = 2Rᵢ − m(n+1) clears the
    // half-integer mean, S4 = ΣDᵢ² exact, W = 3·S4/(m²·(n³−n))/...
    // assembled in one pinned division. One row out.
    QueryDef(
      "a68_kendalls_w",
      (s, d) => {
        val per = tracked(docs(s, d).groupBy("source")
          .agg(count(lit(1)).as("m1"),
            sum(col("n_chars").cast("long")).as("m2"),
            sum(graft.ext.TextAnalysis.tokenCount(col("text"))
              .cast("long")).as("m3")))
        def rk(metric: String, out: String)(df: DataFrame): DataFrame =
          graft.ops.Rank.runningTotals(
            df.withColumn("__one", lit(1L)),
            Seq(col(metric), col("source")), Seq("__one" -> out),
            tracked(_)).drop("__one")
        val ranked = rk("m3", "r3")(rk("m2", "r2")(rk("m1", "r1")(per)))
        val nS = ranked.agg(count(lit(1)).as("n"))
        ranked.crossJoin(broadcast(nS))
          .select(((col("r1") + col("r2") + col("r3")) * 2L
            - lit(3L) * (col("n") + 1L)).as("dd"), col("n"))
          .groupBy("n")
          .agg(sum(col("dd") * col("dd")).as("s4"))
          .select(col("n").as("n_sources"),
            col("s4"),
            round(lit(3.0d) * col("s4").cast("double")
              / (lit(9.0d) * (col("n") * col("n") * col("n") - col("n"))
                .cast("double")), 6).as("kendalls_w"))
      },
      Some("""WITH per AS (SELECT source,
             |    CAST(count(*) AS BIGINT) AS m1,
             |    CAST(sum(n_chars) AS BIGINT) AS m2,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS m3
             |  FROM documents GROUP BY 1),
             |rk AS (SELECT source,
             |    CAST(row_number() OVER (ORDER BY m1, source) AS BIGINT)
             |      AS r1,
             |    CAST(row_number() OVER (ORDER BY m2, source) AS BIGINT)
             |      AS r2,
             |    CAST(row_number() OVER (ORDER BY m3, source) AS BIGINT)
             |      AS r3
             |  FROM per),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
             |dd AS (SELECT ((r1 + r2 + r3) * 2
             |    - 3 * ((SELECT n FROM nn) + 1)) AS d FROM rk)
             |SELECT (SELECT n FROM nn) AS n_sources,
             |  CAST(sum(d*d) AS BIGINT) AS s4,
             |  round(3.0 * CAST(sum(d*d) AS DOUBLE)
             |    / (9.0 * CAST((SELECT n FROM nn) * (SELECT n FROM nn)
             |      * (SELECT n FROM nn) - (SELECT n FROM nn) AS DOUBLE)),
             |    6) AS kendalls_w
             |FROM dd""".stripMargin)),

    // ----- Corpus NOVELTY curve: new distinct trigrams per doc-order
    // decile — the crawl-saturation read (when fresh data stops
    // contributing new n-grams, more of the same source buys no
    // diversity; the fixture itself shows the curve falling 2523 →
    // 970 new trigrams across deciles). Trigram construction is a
    // PER-ROW array transform over the token list (no self-join on
    // position — one explode, linear in tokens); "new" = trigram's
    // MINIMUM doc_id (first occurrence — an agg, not a sort), decile
    // = least(fst·10 / n_docs, 9) in integer division (both engines
    // truncate non-negatives identically; the least() clamp folds the
    // fst == n_docs edge — a trigram first seen in the max doc_id —
    // into decile 9 instead of an 11th bucket); the cumulative rides a
    // ≤10-row grid SELF-JOIN, not a window — the bounded-grid
    // cumulative idiom that needs no whitelist entry in either plan
    // lock. Shuffles: one trigram agg (the data-scale key), then
    // ≤10-row arithmetic.
    QueryDef(
      "tx56_novelty_curve",
      (s, d) => {
        val toks = split(col("text"), " ")
        val tris = docs(s, d)
          .select(col("doc_id"),
            when(size(toks) >= 3,
              transform(sequence(lit(1), size(toks) - lit(2)),
                i => concat_ws(" ", element_at(toks, i),
                  element_at(toks, i + 1), element_at(toks, i + 2))))
              .otherwise(array().cast("array<string>")).as("tgs"))
          .select(col("doc_id"), explode(col("tgs")).as("tg"))
        val ft = tris.groupBy("tg").agg(min("doc_id").as("fst"))
        val nd = docs(s, d).agg(count(lit(1)).as("nd"))
        val b = ft.crossJoin(broadcast(nd))
          .select(least(call_function("div", col("fst") * 10, col("nd"))
            .cast("long"), lit(9L)).as("decile"))
          .groupBy("decile").agg(count(lit(1)).as("new_trigrams"))
        val bc = tracked(b)
        bc.as("a").join(bc.as("p"),
            col("p.decile") <= col("a.decile"))
          .groupBy(col("a.decile").as("decile"))
          .agg(max(col("a.new_trigrams")).as("new_trigrams"),
            sum(col("p.new_trigrams")).as("cum_trigrams"))
          .orderBy("decile")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |tri AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, len(t) - 2),
             |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg
             |  FROM tk),
             |ft AS (SELECT tg, min(doc_id) AS fst FROM tri GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
             |b AS (SELECT least(CAST((fst * 10) // nd AS BIGINT), 9) AS decile,
             |    CAST(count(*) AS BIGINT) AS new_trigrams
             |  FROM ft, n GROUP BY 1)
             |SELECT a.decile, a.new_trigrams,
             |  CAST(sum(p.new_trigrams) AS BIGINT) AS cum_trigrams
             |FROM b a JOIN b p ON p.decile <= a.decile
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ----- HLL cardinality OPERATING CURVE: the sketch rung between
    // the exact-distinct ladder (a48) and the quantile sketches
    // (a12b/est_quantile_sample) — raw HyperLogLog over the corpus's
    // distinct trigrams at THREE register counts m ∈ {16,64,256},
    // each row carrying the exact truth and its relative error, so
    // the 1/√m error decay is an oracle-gated measurement (fixture:
    // 1.51 → 0.19 → 0.075), which is the capacity read for sizing
    // registers at 10¹² keys. Cross-engine exact because everything
    // is integers: the shared poly_hash, bucket = h mod m, rho from
    // the BIT LENGTH of h div m (the g19 log-free log₂; hash < 2³⁰
    // pins the per-m rho width RW), registers = max rho, and the
    // harmonic sum SCALED to the integer S = Σ 2^(RW+1−M_j) (empty
    // register ⇒ 2^(RW+1)) via shifts — the only doubles are the
    // three pinned α constants and one final division per arm,
    // rounded. Deliberately NO small/large-range corrections (they'd
    // drag in ln): m=16's visible overestimate at this n IS the
    // curve's honest left edge, stated not patched. One distinct agg
    // feeds all three arms (tracked); per-arm state is m registers.
    QueryDef(
      "est_hll_curve",
      (s, d) => {
        val toks = split(col("text"), " ")
        val tris = docs(s, d)
          .select(when(size(toks) >= 3,
            transform(sequence(lit(1), size(toks) - lit(2)),
              i => concat_ws(" ", element_at(toks, i),
                element_at(toks, i + 1), element_at(toks, i + 2))))
            .otherwise(array().cast("array<string>")).as("tgs"))
          .select(explode(col("tgs")).as("tg"))
        val h = tracked(tris.distinct()
          .select(graft.ext.NearDup.charHash(col("tg")).as("hv")))
        val exact = h.agg(count(lit(1)).as("exact"))
        val arms = Seq((16, 28, 0.673), (64, 25, 0.709), (256, 23, 0.718273))
        val rows = arms.map { case (m, rw1, alpha) =>
          val reg = h.select((col("hv") % m).as("bucket"),
              when(expr(s"hv div $m") === 0L, lit(rw1.toLong))
                .otherwise(lit(rw1.toLong)
                  - length(bin(expr(s"hv div $m"))).cast("long")).as("rho"))
            .groupBy("bucket").agg(max("rho").as("mx"))
          val spine = s.range(0, m.toLong).select(col("id").as("bucket"))
          spine.join(reg, Seq("bucket"), "left")
            .select(coalesce(col("mx"), lit(0L)).as("mx"))
            .agg(sum(expr(s"shiftleft(1L, CAST($rw1 - mx AS INT))"))
                .as("ssum"),
              sum(when(col("mx") === 0L, 1L).otherwise(0L)).as("v0"))
            .select(lit(m.toLong).as("m"), col("ssum"), col("v0"),
              lit(alpha).as("alpha"), lit(rw1.toLong).as("rw1"))
        }
        rows.reduce(_ unionAll _).crossJoin(broadcast(exact))
          .select(col("m"), col("ssum"), col("v0"), col("exact"),
            round(col("alpha") * col("m").cast("double") * col("m").cast("double")
              * expr("shiftleft(1L, CAST(rw1 AS INT))").cast("double")
              / col("ssum").cast("double")).cast("long").as("hll_est"),
            round(abs(col("alpha") * col("m").cast("double") * col("m").cast("double")
              * expr("shiftleft(1L, CAST(rw1 AS INT))").cast("double")
              / col("ssum").cast("double") - col("exact").cast("double"))
              / col("exact").cast("double"), 6).as("rel_err"))
          .orderBy("m")
      },
      Some(hllCurveSql)),

    // ----- Deterministic WEIGHTED sample without replacement —
    // priority sampling (Duffield–Lund–Thorup) as the corpus
    // downsampler: token-heavy documents deserve proportionally more
    // selection mass when a 100 TB crawl is cut to a token budget,
    // and the sample must be REPRODUCIBLE (resumable jobs, auditable
    // membership) — so the uniform draw u = (h+1)/P comes from a
    // multiplicative Weyl mix of doc_id, not an RNG. NOT the shared
    // charHash: a polynomial fold of a SHORT id string never wraps
    // the modulus (measured: mean h/P = 0.79, all mass in one band —
    // the "sample" degenerated to the highest-w docs), while the
    // Weyl stride is equidistributed over dense ids (measured mean
    // 0.500, full range — and the E395 HT estimator built on it
    // lands at the 1/√k accuracy priority sampling promises, the
    // end-to-end proof the draw is sound). The id is reduced mod P
    // BEFORE the stride multiply: (P−1)·2654435761 ≈ 2.65e18 fits a
    // Long, where the raw doc_id·stride would wrap past doc_id ≈
    // 3.47e9 — and wrap DIVERGENTLY (Spark wraps silently to a
    // negative h, DuckDB raises on BIGINT overflow), breaking the
    // cross-engine determinism exactly at the 100 TB id range the
    // query is pitched for. Priority = w/u ⇔ rank
    // ascending by key = (h+1)/w: ONE IEEE double division of exact
    // longs per row (correctly rounded, so bit-identical
    // cross-engine — division is the float op that IS deterministic;
    // only cross-row addition order isn't), rounded 9dp,
    // (key, doc_id) tie-break. Scale: key is map-side arithmetic on
    // the scan, the only movement is TakeOrdered(k) — no shuffle of
    // the corpus, no RNG state across 1000 executors; inclusion is
    // decidable per-row, which makes the sample shardable and
    // incrementally maintainable.
    QueryDef(
      "est_weighted_sample",
      (s, d) => {
        docs(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("w"),
            (((col("doc_id") % 1000000007L) * 2654435761L + 104729L)
              % 1000000007L).as("h"))
          .filter(col("w") > 0)
          .select(col("doc_id"), col("w"),
            round((col("h") + 1L).cast("double") / col("w").cast("double"), 9)
              .as("key"))
          .orderBy("key", "doc_id").limit(32)
      },
      Some("""SELECT doc_id, w, round(CAST(h + 1 AS DOUBLE) / w, 9) AS key
             |FROM (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |    ((doc_id % 1000000007) * 2654435761 + 104729) % 1000000007 AS h
             |  FROM documents)
             |WHERE w > 0 ORDER BY key, doc_id LIMIT 32""".stripMargin)),

    // ----- Horvitz–Thompson TOTAL from the priority sample — the
    // estimation half that makes est_weighted_sample more than a
    // picker: with τ = the (k+1)-th priority (P/key₃₃), each sampled
    // doc contributes max(w, τ) and the sum is an unbiased estimate
    // of the corpus token total from 32 rows (Duffield–Lund–Thorup's
    // theorem) — the "how many tokens does this 100 TB crawl hold"
    // read paid for by one TakeOrdered instead of a full aggregation,
    // and the oracle gates its honest error (fixture rel_err
    // 0.15/0.08/0.08 tri-SF ≈ the 1/√32 theory line). Determinism:
    // key and τ are single IEEE divisions (bit-equal cross-engine),
    // each max(w, τ) term is rounded to a ×100 integer BEFORE the
    // 32-row sum (addition-order-proof), true total is an exact long
    // sum, rel_err one rounded division chain.
    QueryDef(
      "est_priority_ht",
      (s, d) => {
        val keyed = tracked(docs(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("w"),
            (((col("doc_id") % 1000000007L) * 2654435761L + 104729L)
              % 1000000007L).as("h"))
          .filter(col("w") > 0)
          .select(col("doc_id"), col("w"),
            round((col("h") + 1L).cast("double") / col("w").cast("double"), 9)
              .as("key")))
        // n ≤ k guard: when ≤ 32 docs qualify, limit(33) returns the
        // whole corpus and the 33rd priority does not exist — priority
        // sampling prescribes the EXACT total there (every inclusion
        // probability is 1), so τ collapses to 0 and max(w, τ) = w.
        // Without it, τ = the in-sample minimum priority and the
        // estimator overestimates. Unreachable at fixture SFs (> 32
        // qualifying docs at all three); the guard is for the sharded
        // / heavily-filtered invocations the scaladoc promises.
        val tau = keyed.orderBy("key", "doc_id").limit(33)
          .agg(when(count(lit(1)) < 33, lit(0.0))
            .otherwise(lit(1000000007.0) / max("key")).as("tau_w"))
        val est = keyed.orderBy("key", "doc_id").limit(32)
          .crossJoin(broadcast(tau))
          .select(round(greatest(col("w").cast("double"), col("tau_w")) * 100)
            .cast("long").as("c2"))
          .agg(sum("c2").as("est2"), count(lit(1)).as("n_sample"))
        val tot = keyed.agg(sum("w").as("true_tokens"))
        est.crossJoin(broadcast(tot))
          .select(col("n_sample"), col("true_tokens"), col("est2"),
            round(col("est2").cast("double") / 100.0, 0).cast("long")
              .as("est_tokens"),
            round(abs(col("est2").cast("double") / 100.0
                - col("true_tokens").cast("double"))
              / col("true_tokens").cast("double"), 6).as("rel_err"))
      },
      Some("""WITH k AS (SELECT doc_id, w,
             |    round(CAST(h + 1 AS DOUBLE) / w, 9) AS key
             |  FROM (SELECT doc_id,
             |      CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
             |      ((doc_id % 1000000007) * 2654435761 + 104729) % 1000000007 AS h
             |    FROM documents)
             |  WHERE w > 0),
             |tau AS (SELECT CASE WHEN count(*) < 33 THEN 0.0
             |    ELSE 1000000007.0 / max(key) END AS tau_w FROM
             |  (SELECT key FROM k ORDER BY key, doc_id LIMIT 33)),
             |s AS (SELECT w FROM k ORDER BY key, doc_id LIMIT 32),
             |est AS (SELECT
             |    sum(CAST(round(greatest(CAST(w AS DOUBLE), tau_w) * 100)
             |      AS BIGINT))::BIGINT AS est2,
             |    count(*)::BIGINT AS n_sample
             |  FROM s, tau),
             |tot AS (SELECT sum(w)::BIGINT AS true_tokens FROM k)
             |SELECT n_sample, true_tokens, est2,
             |  CAST(round(CAST(est2 AS DOUBLE) / 100.0, 0) AS BIGINT) AS est_tokens,
             |  round(abs(CAST(est2 AS DOUBLE) / 100.0
             |      - CAST(true_tokens AS DOUBLE))
             |    / CAST(true_tokens AS DOUBLE), 6) AS rel_err
             |FROM est, tot""".stripMargin)),

    // ----- McNemar's paired test over two document-quality gates —
    // the "is classifier B actually better than A on the SAME docs"
    // read an eval pipeline needs before swapping filters (a paired
    // test: marginal accuracy differences come ONLY from the
    // discordant pairs; the concordant mass cancels). Gates are two
    // deterministic rules (A: n_chars ≥ 300; B: token count ≥ 60)
    // against the lang='en' target; b = A-right-B-wrong, c =
    // A-wrong-B-right — exact integer counts; the continuity-
    // corrected χ² = (|b−c|−1)²/(b+c) is one pinned rounded division
    // with the b+c=0 guard. One full-scan agg, 1-row output.
    QueryDef(
      "a70_mcnemar",
      (s, d) => {
        val base = docs(s, d).select(
          (col("lang") === "en").as("y"),
          (col("n_chars") >= 300).as("pa"),
          (size(split(col("text"), " ")) >= 60).as("pb"))
        base.agg(
            sum(when((col("pa") === col("y")) && !(col("pb") === col("y")),
              1L).otherwise(0L)).as("b"),
            sum(when(!(col("pa") === col("y")) && (col("pb") === col("y")),
              1L).otherwise(0L)).as("c"))
          .select(col("b"), col("c"),
            ((col("b") - col("c")) * (col("b") - col("c"))).as("num_uncorr"),
            when(col("b") + col("c") > 0L,
              round(((abs(col("b") - col("c")) - 1L)
                * (abs(col("b") - col("c")) - 1L)).cast("double")
                / (col("b") + col("c")).cast("double"), 6))
              .otherwise(lit(0.0)).as("chi2_cc"))
      },
      Some("""WITH d AS (SELECT lang = 'en' AS y, n_chars >= 300 AS pa,
             |    len(string_split(text, ' ')) >= 60 AS pb
             |  FROM documents),
             |c AS (SELECT
             |    CAST(sum(CASE WHEN (pa = y) AND NOT (pb = y) THEN 1 ELSE 0 END) AS BIGINT) AS b,
             |    CAST(sum(CASE WHEN NOT (pa = y) AND (pb = y) THEN 1 ELSE 0 END) AS BIGINT) AS c
             |  FROM d)
             |SELECT b, c, (b - c) * (b - c) AS num_uncorr,
             |  CASE WHEN b + c > 0 THEN
             |    round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
             |      / CAST(b + c AS DOUBLE), 6)
             |  ELSE 0.0 END AS chi2_cc
             |FROM c""".stripMargin)),

    // ----- Feature-hashing COLLISION gauge (the hashing-trick
    // operating curve): ML feature pipelines hash token spaces into
    // m buckets and silently merge colliding features — this prices
    // that merge BEFORE a model eats it, per m ∈ {256, 4096}:
    // collided_mass = Σ over multi-token buckets of (mass − top
    // token's mass), i.e. the frequency mass riding on a bucket
    // whose meaning is some OTHER feature's. Char-trigram space via
    // the substring transform (identical 1-based semantics both
    // engines), shared poly hash, all counts exact longs, one
    // rounded fraction per arm. Same shape as est_hll_curve /
    // tx53's planner-as-query: the (m, collided_frac) table IS the
    // sizing answer — 23% of mass collides at m=256 on this corpus,
    // 0.2% at 4096. Scale: trigram collapse first; each arm is one
    // |vocab|-row agg.
    QueryDef(
      "tx57_feature_hash",
      (s, d) => {
        val tri = docs(s, d).filter(length(col("text")) >= 3)
          .select(explode(expr(
            "transform(sequence(1, length(text) - 2)," +
              " i -> substring(text, i, 3))")).as("g"))
          .groupBy("g").agg(count(lit(1)).as("freq"))
        val h = tracked(tri.select(
          graft.ext.NearDup.charHash(col("g")).as("hv"), col("freq")))
        val arms = Seq(256L, 4096L).map { m =>
          h.select((col("hv") % m).as("bucket"), col("freq"))
            .groupBy("bucket")
            .agg(count(lit(1)).as("n_tok"), sum("freq").as("mass"),
              max("freq").as("top_mass"))
            .agg(lit(m).as("m"), sum("n_tok").as("vocab"),
              count(lit(1)).as("used_buckets"),
              sum(when(col("n_tok") > 1L, 1L).otherwise(0L))
                .as("collided_buckets"),
              sum(when(col("n_tok") > 1L, col("mass") - col("top_mass"))
                .otherwise(0L)).as("collided_mass"),
              sum("mass").as("tmass"))
        }
        arms.reduce(_ unionAll _)
          .select(col("m"), col("vocab"), col("used_buckets"),
            col("collided_buckets"), col("collided_mass"),
            round(col("collided_mass").cast("double")
              / col("tmass").cast("double"), 6).as("collided_frac"))
          .orderBy("m")
      },
      Some(s"""WITH tri AS (
             |  SELECT substr(d.text, CAST(i AS INTEGER), 3) AS g,
             |    count(*)::BIGINT AS freq
             |  FROM documents d, unnest(range(1, length(d.text) - 1)) AS t(i)
             |  WHERE length(d.text) >= 3
             |  GROUP BY 1),
             |h AS (SELECT g, freq,
             |  ${graft.ext.NearDup.Sql.charHashSql("g")} AS hv FROM tri),
             |arms AS (SELECT m, h.g, h.freq, h.hv % m AS bucket
             |  FROM h, (SELECT unnest([256, 4096]) AS m)),
             |b AS (SELECT m, bucket, count(*)::BIGINT AS n_tok,
             |    sum(freq)::BIGINT AS mass, max(freq)::BIGINT AS top_mass
             |  FROM arms GROUP BY 1, 2),
             |s AS (SELECT m, sum(n_tok)::BIGINT AS vocab,
             |    count(*)::BIGINT AS used_buckets,
             |    sum(CASE WHEN n_tok > 1 THEN 1 ELSE 0 END)::BIGINT
             |      AS collided_buckets,
             |    sum(CASE WHEN n_tok > 1 THEN mass - top_mass ELSE 0 END)::BIGINT
             |      AS collided_mass,
             |    sum(mass)::BIGINT AS tmass
             |  FROM b GROUP BY 1)
             |SELECT CAST(m AS BIGINT) AS m, vocab, used_buckets,
             |  collided_buckets, collided_mass,
             |  round(CAST(collided_mass AS DOUBLE) / CAST(tmass AS DOUBLE), 6)
             |    AS collided_frac
             |FROM s ORDER BY m""".stripMargin)),

    // ----- Maximal duplicated-SPAN coverage — the exact-substring
    // dedup metric (Lee et al. 2022, "Deduplicating Training Data
    // Makes Language Models Better"): the fraction of corpus tokens
    // lying inside a MAXIMAL duplicated span of ≥ DupGramK tokens.
    // tx22 counts duplicated gram POSITIONS, which double-counts every
    // token under up to k overlapping grams; the published number is
    // span-merged — anchor k-grams whose hash occurs ≥2 times anywhere
    // in the corpus (cross-doc or a within-doc repeat, per the paper's
    // "again in train" semantics) cover token interval [s, s+k−1], and
    // overlapping/adjacent intervals merge into maximal spans whose
    // union length is the covered-token count. Dup detection is on the
    // shared charHash mod P (identical both engines; DupSpanGoldenSpec
    // recomputes from raw gram STRINGS on the fixture, witnessing
    // collision-freeness there). Scale shape: grams are N·n̄tok rows
    // (same scan multiply as tx22); the dup-gram set is one uniform-
    // key agg + an equi-join; the interval merge is a per-doc window
    // (partition key doc_id — parallel, skew bounded by max doc
    // length) whose running-max/running-sum frames are streaming
    // (O(1) state per row, no buffered partitions). Synthetic +700000
    // re-ingest of every 5th doc (tx22's convention) guarantees known
    // cross-doc duplicates at every SF.
    QueryDef(
      "tx58_dup_span_coverage",
      (s, d) => {
        val base = docs(s, d).select("doc_id", "text")
        val ingest = base.unionAll(
          base.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 700000L).as("doc_id"), col("text")))
        val pos = ingest
          .select(col("doc_id"), graft.ext.NearDup.shingleHashList(
            TextAnalysis.tokens(col("text")), DupGramK).as("gs"))
          .select(col("doc_id"), posexplode(col("gs")).as(Seq("p0", "g")))
          .select(col("doc_id"), (col("p0") + 1L).as("s"),
            (col("p0") + lit(DupGramK.toLong)).as("e"), col("g"))
        val dupG = pos.groupBy("g").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") >= 2L).select("g")
        val anch = pos.join(dupG, Seq("g"))
        val byDoc = Window.partitionBy("doc_id").orderBy("s")
        val pmax = max("e")
          .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
        val marked = anch.select(col("doc_id"), col("s"), col("e"),
          when(pmax.isNull || col("s") > pmax + 1L, 1L).otherwise(0L)
            .as("ni"))
        val isl = marked.select(col("doc_id"), col("s"), col("e"),
          sum("ni").over(byDoc.rowsBetween(Window.unboundedPreceding, 0))
            .as("island"))
        val spans = isl.groupBy("doc_id", "island")
          .agg((max("e") - min("s") + 1L).as("span_len"))
        val perDoc = spans.groupBy("doc_id")
          .agg(sum("span_len").as("covered"), count(lit(1)).as("n_spans"),
            max("span_len").as("max_span"))
        val alln = ingest.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
        alln.join(perDoc, Seq("doc_id"), "left")
          .select(col("n_tok"),
            coalesce(col("covered"), lit(0L)).as("covered"),
            coalesce(col("n_spans"), lit(0L)).as("n_spans"),
            coalesce(col("max_span"), lit(0L)).as("max_span"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("covered") > 0L, 1L).otherwise(0L))
              .as("docs_with_span"),
            sum("n_spans").as("n_spans"),
            sum("covered").as("covered_tokens"),
            sum("n_tok").as("total_tokens"),
            round(sum("covered").cast("double")
              / sum("n_tok").cast("double"), 6).as("corpus_dup_frac"),
            max("max_span").as("max_span_len"))
      },
      Some(s"""WITH ingest AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 5 = 0),
              |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ingest),
              |pos AS (SELECT doc_id,
              |    unnest(range(1, len(toks) - ${DupGramK - 2})) AS s,
              |    unnest(${graft.ext.NearDup.Sql.shingleHashList(DupGramK)}) AS g
              |  FROM t),
              |dupg AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
              |anch AS (SELECT doc_id, s, s + ${DupGramK - 1} AS e
              |  FROM pos JOIN dupg USING (g)),
              |w AS (SELECT doc_id, s, e,
              |    max(e) OVER (PARTITION BY doc_id ORDER BY s
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
              |  FROM anch),
              |isl AS (SELECT doc_id, s, e,
              |    sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
              |      OVER (PARTITION BY doc_id ORDER BY s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              |  FROM w),
              |spans AS (SELECT doc_id, max(e) - min(s) + 1 AS span_len
              |  FROM isl GROUP BY doc_id, island),
              |perdoc AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS covered,
              |    count(*)::BIGINT AS n_spans,
              |    CAST(max(span_len) AS BIGINT) AS max_span
              |  FROM spans GROUP BY doc_id),
              |alln AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
              |  FROM ingest)
              |SELECT count(*) AS n_docs,
              |  CAST(sum(CASE WHEN coalesce(covered, 0) > 0 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS docs_with_span,
              |  CAST(sum(coalesce(n_spans, 0)) AS BIGINT) AS n_spans,
              |  CAST(sum(coalesce(covered, 0)) AS BIGINT) AS covered_tokens,
              |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |  round(CAST(sum(coalesce(covered, 0)) AS DOUBLE)
              |    / CAST(sum(n_tok) AS DOUBLE), 6) AS corpus_dup_frac,
              |  CAST(max(coalesce(max_span, 0)) AS BIGINT) AS max_span_len
              |FROM alln LEFT JOIN perdoc USING (doc_id)""".stripMargin)),

  )

  /** DuckDB mirror for est_hll_curve: one distinct-trigram hash CTE
    * feeds three generated per-m arms (registers via max rho, the
    * scaled-integer harmonic sum via shifts), unioned and joined to
    * the exact count. Constants (m, RW+1, α) are the same literals
    * the Spark plan pins.
    */
  private lazy val hllCurveSql: String = {
    val arms = Seq((16, 28, "0.673"), (64, 25, "0.709"), (256, 23, "0.718273"))
    val armSql = arms.map { case (m, rw1, alpha) =>
      s"""SELECT $m::BIGINT AS m, ssum, v0, $alpha AS alpha, $rw1 AS rw1 FROM (
         |  WITH reg AS (SELECT hv % $m AS bucket,
         |      max(CASE WHEN hv // $m = 0 THEN $rw1
         |        ELSE $rw1 - length(bin(hv // $m)) END)::BIGINT AS mx
         |    FROM h GROUP BY 1),
         |  spine AS (SELECT unnest(generate_series(0, ${m - 1})) AS bucket),
         |  fr AS (SELECT coalesce(reg.mx, 0)::BIGINT AS mx
         |    FROM spine LEFT JOIN reg USING (bucket))
         |  SELECT sum(1::BIGINT << ($rw1 - mx))::BIGINT AS ssum,
         |    sum(CASE WHEN mx = 0 THEN 1 ELSE 0 END)::BIGINT AS v0
         |  FROM fr)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH tk AS (SELECT string_split(text, ' ') AS t FROM documents),
       |tri AS (SELECT unnest(list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg FROM tk),
       |dtg AS (SELECT DISTINCT tg FROM tri),
       |h AS (SELECT ${graft.ext.NearDup.Sql.charHashSql("tg")} AS hv FROM dtg),
       |ex AS (SELECT count(*)::BIGINT AS exact FROM dtg),
       |arms AS ($armSql)
       |SELECT m, ssum, v0, exact,
       |  CAST(round(alpha * m * m * CAST(1::BIGINT << rw1 AS DOUBLE) / ssum)
       |    AS BIGINT) AS hll_est,
       |  round(abs(alpha * m * m * CAST(1::BIGINT << rw1 AS DOUBLE) / ssum
       |    - exact) / exact, 6) AS rel_err
       |FROM arms, ex ORDER BY m""".stripMargin
  }
}
