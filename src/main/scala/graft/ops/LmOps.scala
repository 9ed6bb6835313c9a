package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-trained n-gram language-model scoring (KenLM-lite): train
  * add-k-smoothed unigram/bigram models over the corpus itself, score
  * every document's perplexity under them. The standard
  * model-based quality screen a training-data pipeline runs between the
  * heuristic filters (CurationOps) and an expensive classifier: documents
  * whose perplexity under the corpus LM is extreme are either boilerplate
  * (far below median) or noise (far above).
  *
  * Scale shapes (the 100 TB contract):
  *   - the UNIGRAM table is one shuffle on token to build; at scoring
  *     time it is a bounded dimension (vocab, not corpus) — broadcast
  *     when it fits, else the score join shuffles tokens once (Spark's
  *     planner decides via AQE; nothing here forces either).
  *   - the BIGRAM table can rival the corpus itself in row count, so it
  *     is NEVER broadcast: scoring joins on (w1, w2) — one shuffle of
  *     doc bigrams against model bigrams, both sides pre-aggregated.
  *   - per-doc reduction is a plain hash agg on doc_id; no windows, no
  *     driver state. Model training and scoring both stream.
  *
  * Smoothing: add-k with k=0.5 over the observed vocab (self-scoring a
  * closed corpus has no true OOV, but the smoothed form keeps the
  * estimator well-defined for held-out scoring where unseen tokens and
  * unseen continuations DO appear — p(w) = (c(w)+k)/(T+kV),
  * p(w2|w1) = (c(w1,w2)+k)/(c(w1)+kV)).
  */
object LmOps {

  private val K = 0.5

  /** doc_id -> token stream, the repo's whitespace convention
    * (`q_wordcount`/`q_bm25`).
    */
  private def toks(docs: DataFrame) =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))

  /** Per-document perplexity under the corpus unigram model:
    * exp(-(1/n) * sum ln p(w)). Returns (doc_id, n_tokens, ppl).
    *
    * One lazy plan, no eager totals action: the (T, V) totals ride as a
    * broadcast single-row cross join, so `cnt` appears twice in the SAME
    * plan and its tok-shuffle runs once via ReuseExchange — previously
    * the totals `head()` re-ran the whole tokenize+aggregate before the
    * score join even started.
    */
  def unigramPerplexity(docs: DataFrame): DataFrame = {
    val cnt = toks(docs).groupBy("tok")
      .agg(count(lit(1)).cast(DoubleType).as("c"))
    val tot = cnt.agg(sum(col("c")).as("t"), count(lit(1)).cast(DoubleType).as("v"))
    val tf = toks(docs).groupBy("doc_id", "tok")
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    tf.join(cnt, "tok") // vocab-sized right side: AQE broadcasts when it fits
      .crossJoin(broadcast(tot)) // one row: (T, V)
      .groupBy("doc_id")
      .agg(
        sum(col("tf") * log((col("c") + K) / (col("t") + lit(K) * col("v")))).as("lp"),
        sum(col("tf")).as("n"))
      .select(
        col("doc_id"), col("n").cast(LongType).as("n_tokens"),
        round(exp(-col("lp") / col("n")), 6).as("ppl"))
  }

  /** Per-document perplexity under the corpus bigram model with add-k
    * continuation smoothing: exp(-(1/m) * sum ln p(w2|w1)) over the
    * doc's m = n-1 consecutive pairs. Single-token docs have no bigrams
    * and are excluded (their bigram perplexity is undefined, not 1.0).
    */
  def bigramPerplexity(docs: DataFrame): DataFrame = {
    // same lazy-totals shape as [[unigramPerplexity]]: V joins in as a
    // broadcast single row instead of a separate eager head() job
    val vocab = toks(docs).agg(countDistinct(col("tok")).cast(DoubleType).as("v"))
    // consecutive pairs ROW-LOCALLY: zip the token array with its own
    // tail — no exchange, no sort. (A lead() window costs a doc_id
    // shuffle + sort per reference, and this subtree is referenced
    // twice: once for doc tf, once under the model counts — measured
    // 3.1 s -> ~1 s at sf0.1.) Single-token docs zip to an empty array
    // and vanish at the explode, which is the contract (no bigrams).
    val tok = split(col("text"), " ")
    val bg = docs.select(
      col("doc_id"),
      explode(zip_with(
        slice(tok, lit(1), size(tok) - 1),
        slice(tok, lit(2), size(tok) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val bgTf = bg.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    // model tables: bigram counts keyed (w1, w2); unigram PREFIX counts
    // exclude each doc's final token (it starts no bigram)
    val bgCnt = bgTf.groupBy("w1", "w2").agg(sum(col("tf")).as("c2"))
    val w1Cnt = bgCnt.groupBy("w1").agg(sum(col("c2")).as("c1"))
    bgTf
      .join(bgCnt, Seq("w1", "w2")) // corpus-sized model: shuffle join, never broadcast
      .join(w1Cnt, Seq("w1"))
      .crossJoin(broadcast(vocab)) // one row: V
      .groupBy("doc_id")
      .agg(
        sum(col("tf") * log((col("c2") + K) / (col("c1") + lit(K) * col("v")))).as("lp"),
        sum(col("tf")).as("m"))
      .select(
        col("doc_id"), col("m").cast(LongType).as("n_bigrams"),
        round(exp(-col("lp") / col("m")), 6).as("ppl"))
  }

  /** Per-document perplexity under an INTERPOLATED KNESER–NEY bigram
    * model (Kneser & Ney '95; the KenLM default and the strongest
    * classical n-gram smoothing — what add-k approximates crudely):
    *
    *   p(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
    *            + [D · N1+(w1,•)/c(w1)] · N1+(•,w2)/N1+(••)
    *
    * — absolute discounting of observed bigrams, with the held-out
    * mass λ(w1) = D·N1+(w1,•)/c(w1) re-spread over CONTINUATION
    * counts (how many distinct contexts a word follows), not raw
    * unigram frequency — the insight that makes "Francisco" cheap
    * after anything but "San". Per context, the model is a true
    * distribution: Σ_w2 p(w2|w1) = 1 exactly (spec-pinned).
    *
    * Scale shape identical to [[bigramPerplexity]]: every model table
    * is one hash agg off the SAME row-local zip-with-tail bigram
    * explode (type counts N1+ are just count(*) over the (w1,w2)
    * aggregate — no extra corpus pass), the bigram model is never
    * broadcast, N1+(••) rides as a broadcast single row, and all
    * counts are exact longs carried as DOUBLE so the float math
    * matches the oracle's expression tree exactly.
    */
  def knPerplexity(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val tok = split(col("text"), " ")
    val bg = docs.select(
      col("doc_id"),
      explode(zip_with(
        slice(tok, lit(1), size(tok) - 1),
        slice(tok, lit(2), size(tok) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
    val bgTf = bg.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).cast(DoubleType).as("tf"))
    val bgCnt = bgTf.groupBy("w1", "w2").agg(sum(col("tf")).as("c2"))
    // context table: total count AND distinct-continuation type count
    // in one agg (bgCnt rows are distinct (w1, w2) by construction)
    val w1Cnt = bgCnt.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).cast(DoubleType).as("nf"))
    val w2Cnt = bgCnt.groupBy("w2").agg(count(lit(1)).cast(DoubleType).as("np"))
    val na = bgCnt.agg(count(lit(1)).cast(DoubleType).as("na"))
    bgTf
      .join(bgCnt, Seq("w1", "w2")) // corpus-sized model: shuffle join
      .join(w1Cnt, Seq("w1"))
      .join(w2Cnt, Seq("w2"))
      .crossJoin(broadcast(na)) // one row: N1+(••)
      .groupBy("doc_id")
      .agg(
        sum(col("tf") * log(
          greatest(col("c2") - discount, lit(0.0)) / col("c1")
            + lit(discount) * col("nf") / col("c1") * (col("np") / col("na")))).as("lp"),
        sum(col("tf")).as("m"))
      .select(
        col("doc_id"), col("m").cast(LongType).as("n_bigrams"),
        round(exp(-col("lp") / col("m")), 6).as("ppl"))
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef(
      "q_lm_unigram_ppl",
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |cnt AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY tok),
         |tot AS (SELECT sum(c) AS t, CAST(count(*) AS DOUBLE) AS v FROM cnt),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
         |sc AS (
         |  SELECT tf.doc_id,
         |    sum(tf.tf * ln((cnt.c + $K) / ((SELECT t FROM tot) + $K * (SELECT v FROM tot)))) AS lp,
         |    sum(tf.tf) AS n
         |  FROM tf JOIN cnt ON tf.tok = cnt.tok GROUP BY tf.doc_id)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, round(exp(-lp / n), 6) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      unigramPerplexity(Tables.documents(s, d)).orderBy("doc_id")
    },

    QueryDef(
      "q_lm_bigram_ppl",
      s"""WITH l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |v AS (
         |  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         |bg AS (
         |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         |  FROM l, unnest(generate_series(1, len(l) - 1)) AS g(i)),
         |bg_tf AS (
         |  SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS tf
         |  FROM bg GROUP BY 1, 2, 3),
         |bg_cnt AS (SELECT w1, w2, sum(tf) AS c2 FROM bg_tf GROUP BY 1, 2),
         |w1_cnt AS (SELECT w1, sum(c2) AS c1 FROM bg_cnt GROUP BY 1),
         |sc AS (
         |  SELECT t.doc_id,
         |    sum(t.tf * ln((b.c2 + $K) / (u.c1 + $K * (SELECT v FROM v)))) AS lp,
         |    sum(t.tf) AS m
         |  FROM bg_tf t
         |  JOIN bg_cnt b ON t.w1 = b.w1 AND t.w2 = b.w2
         |  JOIN w1_cnt u ON t.w1 = u.w1
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(m AS BIGINT) AS n_bigrams, round(exp(-lp / m), 6) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      bigramPerplexity(Tables.documents(s, d)).orderBy("doc_id")
    },

    // Interpolated Kneser–Ney bigram perplexity. The oracle rebuilds
    // the full model from exact counts — discounted bigram term plus
    // continuation-count back-off — with the IDENTICAL expression tree
    // (left-assoc products, same literals), so the correctly-rounded
    // float ops agree and ln/exp land inside round(,6) per the q_lm_*
    // precedent.
    QueryDef(
      "q_lm_kn_ppl",
      """WITH l AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         |bg AS (
         |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
         |  FROM l, unnest(generate_series(1, len(l) - 1)) AS g(i)),
         |bg_tf AS (
         |  SELECT doc_id, w1, w2, CAST(count(*) AS DOUBLE) AS tf
         |  FROM bg GROUP BY 1, 2, 3),
         |bg_cnt AS (SELECT w1, w2, sum(tf) AS c2 FROM bg_tf GROUP BY 1, 2),
         |w1_cnt AS (
         |  SELECT w1, sum(c2) AS c1, CAST(count(*) AS DOUBLE) AS nf
         |  FROM bg_cnt GROUP BY 1),
         |w2_cnt AS (SELECT w2, CAST(count(*) AS DOUBLE) AS np FROM bg_cnt GROUP BY 1),
         |na AS (SELECT CAST(count(*) AS DOUBLE) AS na FROM bg_cnt),
         |sc AS (
         |  SELECT t.doc_id,
         |    sum(t.tf * ln(
         |      greatest(b.c2 - 0.75, 0.0) / u.c1
         |      + 0.75 * u.nf / u.c1 * (w.np / (SELECT na FROM na)))) AS lp,
         |    sum(t.tf) AS m
         |  FROM bg_tf t
         |  JOIN bg_cnt b ON t.w1 = b.w1 AND t.w2 = b.w2
         |  JOIN w1_cnt u ON t.w1 = u.w1
         |  JOIN w2_cnt w ON t.w2 = w.w2
         |  GROUP BY t.doc_id)
         |SELECT doc_id, CAST(m AS BIGINT) AS n_bigrams, round(exp(-lp / m), 6) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin) { (s, d) =>
      knPerplexity(Tables.documents(s, d)).orderBy("doc_id")
    })
}
