package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Iterative BPE merge training — the tokenizer-training inner loop
  * (count adjacent pairs → merge the argmax pair everywhere → recount)
  * that tx8's single pair count only hinted at. Word-level symbols
  * (whitespace tokens) rather than characters; the round structure is
  * identical to subword BPE.
  *
  * Corpus representation: each document is its text with token
  * separators widened to DOUBLE spaces (`replace(text, " ", "  ")`),
  * so a merged symbol can keep a SINGLE interior space ("a b") and
  * stay unambiguous — no token ever contains a double space, so the
  * separator can never be forged by a merge. A merge round is then a
  * plain literal `replace` over a space-padded copy:
  * `" l  r "` → `" l r "` — and literal replace is left-to-right,
  * non-overlapping in both engines (Java String.replace and DuckDB
  * replace), which is EXACTLY greedy single-pass BPE application:
  * in `a a a`, merging (a,a) consumes positions 1-2 and leaves
  * `[aa, a]`. The outer one-space pads let the pattern anchor token
  * boundaries at string ends; pads are stripped again by substring
  * arithmetic. That equivalence is what makes the loop expressible in
  * an unrolled DuckDB CTE and hence hash-verifiable cross-engine.
  *
  * Scale shape per round: one pair-count aggregation (explode to
  * (l, r) pairs, hash agg, global top-1 — partial aggregation
  * map-side, only distinct pairs shuffle) + one map-side replace over
  * the corpus, lineage cut per round via [[Lineage.checkpointed]] with
  * handle release (the CC round machinery). Driver traffic is ONE row
  * per round (the argmax pair). Real subword-tokenizer training runs
  * this exact loop on a corpus sample; the shape holds at 100 TB with
  * the sample as input.
  */
object Bpe {

  /** One learned merge: round (1-based), the pair, and its count at
    * selection time.
    */
  final case class Merge(round: Int, left: String, right: String, freq: Long)

  /** Train `nRounds` merges over `textCol`. Tie-break is pinned:
    * highest count, then smallest (left, right) in binary string
    * order — both engines sort ASCII identically. Stops early if no
    * pair remains (single-token documents only).
    */
  def train(docs: DataFrame, textCol: String, nRounds: Int): Seq[Merge] = {
    var (corpus, corpusRdd) = Lineage.checkpointed(
      docs.select(call_function("replace", col(textCol), lit(" "), lit("  ")).as("core")))
    val merges = Seq.newBuilder[Merge]
    var round = 1
    var exhausted = false
    while (round <= nRounds && !exhausted) {
      val toks = split(col("core"), "  ")
      val n = size(toks)
      // the per-round argmax pair: driver traffic is ONE row per
      // round (query-reachable via tx8b — a bounded gauge, not a fit
      // collect; the corpus-wide pair scan stays distributed)
      val top = graft.ops.Grids.boundedRows(corpus
        .select(explode(zip_with(
          slice(toks, lit(1), greatest(n - 1, lit(0))),
          slice(toks, lit(2), greatest(n - 1, lit(0))),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1), 1, "bpe_merge_argmax")
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Merge(round, l, r, cnt)
        val padded = concat(lit(" "), col("core"), lit(" "))
        val replaced = call_function("replace", padded,
          lit(s" $l  $r "), lit(s" $l $r "))
        val (next, nextRdd) = Lineage.checkpointed(
          corpus.select(
            replaced.substr(lit(2), length(replaced) - 2).as("core")))
        corpusRdd.unpersist(blocking = false)
        corpus = next
        corpusRdd = nextRdd
        round += 1
      }
    }
    corpusRdd.unpersist(blocking = false)
    merges.result()
  }

  /** The merge table as a DataFrame (the query/oracle surface). */
  def trainDF(s: SparkSession, docs: DataFrame, textCol: String, nRounds: Int): DataFrame = {
    import s.implicits._
    train(docs, textCol, nRounds)
      .toDF("merge_round", "left_tok", "right_tok", "freq")
      .orderBy("merge_round")
  }

  /** ENCODE with an already-trained merge list (the serving side of
    * tokenization — [[train]] is the offline fit, this is what a
    * pipeline runs per document): widen separators once, pad once,
    * apply every merge in training order as a literal replace, unpad.
    * Single-pass greedy application per merge, identical left-to-right
    * semantics both engines (the [[train]] scaladoc's replace
    * argument). Returns the double-space-separated symbol string;
    * `split(_, "  ")` gives the token sequence. Pure map-side — the
    * merge list is a plan literal, nothing shuffles.
    */
  def encodeCol(text: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column = {
    val widened = call_function("replace", text, lit(" "), lit("  "))
    val padded = concat(lit(" "), widened, lit(" "))
    val applied = merges.foldLeft(padded) { case (c, (l, r)) =>
      call_function("replace", c, lit(s" $l  $r "), lit(s" $l $r "))
    }
    applied.substr(lit(2), length(applied) - 2)
  }

  /** SQL escape for merge-token literals. */
  private def q(s: String): String = s.replace("'", "''")

  /** DuckDB mirror of [[encodeCol]] as a scalar expression over
    * `textExpr`.
    */
  def encodeSql(textExpr: String, merges: Seq[(String, String)]): String = {
    val widened = s"replace($textExpr, ' ', '  ')"
    val padded = s"(' ' || $widened || ' ')"
    val applied = merges.foldLeft(padded) { case (e, (l, r)) =>
      s"replace($e, ' ${q(l)}  ${q(r)} ', ' ${q(l)} ${q(r)} ')"
    }
    s"substring($applied, 2, len($applied) - 2)"
  }

  /** Unrolled DuckDB mirror: d0 widens separators exactly like the
    * Spark side, then each round is (pair-count CTE with the same
    * ORDER BY cnt DESC, l, r LIMIT 1 tie-break) + (padded literal
    * replace + substring unpad). DuckDB's replace is the same
    * left-to-right non-overlapping scan, so the merged corpora stay
    * identical round by round.
    */
  def trainSql(nRounds: Int): String = {
    // every CTE is AS MATERIALIZED — the same ~k^R inlining blow-up
    // the KCore mirrors document: d_k references p_k in FOUR scalar
    // subqueries plus d_{k-1}, and p_k itself is also read by the
    // final union, so left inlined DuckDB re-evaluates the whole
    // chain ~5^k times (measured: the 6-round mirror at sf0.01 was
    // 265 s of the 434 s oracle total; materialized it is seconds —
    // the round-15 Spark-vs-oracle decomposition's top find)
    val rounds = (1 to nRounds).map { k =>
      val prev = s"d${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT t[i] AS l, t[i+1] AS r, count(*) AS cnt FROM
         |    (SELECT t, unnest(generate_series(1, len(t)-1)) AS i FROM
         |      (SELECT string_split(core, '  ') AS t FROM $prev))
         |  GROUP BY 1, 2 ORDER BY cnt DESC, l, r LIMIT 1),
         |d$k AS MATERIALIZED (
         |  SELECT substring(x, 2, len(x)-2) AS core FROM
         |    (SELECT replace(' ' || core || ' ',
         |       ' ' || (SELECT l FROM p$k) || '  ' || (SELECT r FROM p$k) || ' ',
         |       ' ' || (SELECT l FROM p$k) || ' ' || (SELECT r FROM p$k) || ' ') AS x
         |     FROM $prev))""".stripMargin
    }
    val union = (1 to nRounds)
      .map(k => s"SELECT $k AS merge_round, l AS left_tok, r AS right_tok, cnt AS freq FROM p$k")
      .mkString("\nUNION ALL\n")
    s"""WITH d0 AS MATERIALIZED (SELECT replace(text, ' ', '  ') AS core FROM documents),
       |${rounds.mkString(",\n")}
       |$union
       |ORDER BY merge_round""".stripMargin
  }
}
