package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GQuery, QueryModule, Tables}
import graft.Exact.dround

/** Text-analysis block (north-star training-data pipeline ops): token/char
  * statistics and prefix-shingle near-duplicate blocking over `documents`.
  * Everything is built-in string/array functions — codegen'd, no UDFs, fully
  * distributed (the group-bys shuffle on lang / shingle key, both low-card
  * or high-entropy — no driver-side logic anywhere).
  */
object TextOps extends QueryModule {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Per-language corpus statistics: doc counts, char/token means, max len. */
  private val qTextStats = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        dround(avg(col("n_chars").cast("double"))).as("avg_chars"),
        dround(avg(col("n_tokens").cast("double"))).as("avg_tokens"),
        max("n_chars").as("max_chars"))
      .orderBy("lang"),
    Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(round(CAST(avg(CAST(n_chars AS DOUBLE)) AS DECIMAL(30,8)), 2) AS DOUBLE) AS avg_chars,
                   CAST(round(CAST(avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS DECIMAL(30,8)), 2) AS DOUBLE) AS avg_tokens,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang ORDER BY lang"""))

  /** Near-dup blocking on the lowercase first-5-token shingle: groups with
    * >1 doc are duplicate candidates. The group-by formulation (vs a
    * self-join emitting pairs) keeps output linear in corpus size — at 100 TB
    * a hot shingle would otherwise explode quadratically.
    */
  private val qTextShingleDup = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        array_join(slice(split(lower(col("text")), " "), 1, 5), " ").as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("prefix"),
    Some("""SELECT array_to_string(list_slice(string_split(lower(text), ' '), 1, 5), ' ')
                     AS prefix,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY prefix"""))

  // ----------------------------------------------------- language ID --

  /** Stopword-profile language ID (the classic n-gram/profile heuristic in
    * its portable form): score each language by profile-token hits, argmax
    * with a deterministic precedence encoding (score*8 + lang-rank). Emits
    * the label×prediction confusion counts.
    */
  private val langProfiles: Seq[(String, Int, Seq[String])] = Seq(
    ("en", 4, Seq("the", "a", "and", "of", "to")),
    ("de", 3, Seq("der", "und", "die", "das", "ist")),
    ("fr", 2, Seq("le", "la", "et", "les", "des")),
    ("es", 1, Seq("el", "los", "y", "que", "en")))

  private val qTextLangid = GQuery(
    (s, d) => {
      // toks materialized once: four inline splits (one per profile filter)
      // measured 4x the scan cost
      val encoded = langProfiles.map { case (_, rank, words) =>
        size(filter(col("toks"), tk => tk.isin(words.map(lit): _*))) * 8 + lit(rank)
      }
      val m = greatest(encoded: _*)
      val pred = langProfiles.foldLeft(lit("und")) { case (acc, (l, rank, _)) =>
        when(pmod(m, lit(8)) === rank, l).otherwise(acc)
      }
      t(s, d, "documents")
        .select(col("lang"), split(lower(col("text")), " ").as("toks"))
        .select(col("lang"), pred.as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },
    Some {
      val enc = langProfiles.map { case (_, rank, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($inList))) * 8 + $rank"
      }.mkString("greatest(", ", ", ")")
      val pred = langProfiles.foldLeft("'und'") { case (acc, (l, rank, _)) =>
        s"CASE WHEN m % 8 = $rank THEN '$l' ELSE $acc END"
      }
      s"""WITH sc AS (SELECT lang, $enc AS m FROM documents)
          SELECT lang, $pred AS pred_lang, CAST(count(*) AS BIGINT) AS n
          FROM sc GROUP BY 1, 2 ORDER BY lang, pred_lang"""
    })

  // -------------------------------------------------- quality scoring --

  /** Per-doc quality score from length, stopword ratio, and mean token
    * length (the C4/Gopher-style heuristic battery in deterministic form).
    */
  private val qTextQuality = GQuery(
    (s, d) => {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), col("n_chars"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(filter(col("toks"), tk => tk.isin(stops.map(lit): _*))).cast("long")
            .as("n_stop"))
        .withColumn("avg_tok_len",
          dround((col("n_chars") - (col("n_tokens") - 1)).cast("double")
            / col("n_tokens"), 3))
        .withColumn("stop_ratio",
          dround(col("n_stop").cast("double") / col("n_tokens"), 3))
        .withColumn("score", dround(
          least(col("n_tokens").cast("double") / 100, lit(1.0)) * 0.4
            + (lit(1.0) - col("stop_ratio")) * 0.3
            + least(col("avg_tok_len") / 8, lit(1.0)) * 0.3, 3))
        .select("doc_id", "n_tokens", "avg_tok_len", "stop_ratio", "score")
        .orderBy("doc_id")
    },
    Some {
      val inList = Seq("the", "a", "of", "and", "to", "in", "is")
        .map(w => s"'$w'").mkString(", ")
      s"""WITH m AS (
            SELECT doc_id, n_chars,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                     t -> t IN ($inList))) AS BIGINT) AS n_stop
            FROM documents),
          r AS (
            SELECT doc_id, n_tokens,
                   CAST(round(CAST(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens
                     AS DECIMAL(30,8)), 3) AS DOUBLE) AS avg_tok_len,
                   CAST(round(CAST(CAST(n_stop AS DOUBLE) / n_tokens
                     AS DECIMAL(30,8)), 3) AS DOUBLE) AS stop_ratio
            FROM m)
          SELECT doc_id, n_tokens, avg_tok_len, stop_ratio,
                 CAST(round(CAST(least(CAST(n_tokens AS DOUBLE) / 100, 1.0) * 0.4
                   + (1.0 - stop_ratio) * 0.3
                   + least(avg_tok_len / 8, 1.0) * 0.3 AS DECIMAL(30,8)), 3)
                   AS DOUBLE) AS score
          FROM r ORDER BY doc_id"""
    })

  /** Flesch–Kincaid grade level per document — the READABILITY member of
    * the quality battery (q_text_quality scores surface statistics; FK
    * estimates the schooling a reader needs, the classic pre-LLM
    * difficulty signal corpus curricula still bucket on): grade =
    * 0.39·(words/sentences) + 11.8·(syllables/word) − 15.59. Syllables
    * use the standard vowel-GROUP heuristic (≥1 per word — 'strength'
    * counts 1, 'data' counts 2), deterministic regexp arithmetic in both
    * engines. This corpus carries no sentence punctuation, so sentences
    * fall back to fixed 15-word segments (⌈w/15⌉, exact integer) — a real
    * corpus swaps in the '[.!?]+' split without touching the rest.
    *
    * Scale: one linear explode + per-doc agg; the FK chain is the only fp
    * and is mirrored + drounded.
    */
  private val qTextReadability = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val syl = docs.select(col("doc_id"), explode(col("toks")).as("w"))
        .select(col("doc_id"),
          greatest(lit(1L),
            size(expr("regexp_extract_all(w, '[aeiou]+', 0)")).cast("long"))
            .as("syl"))
        .groupBy("doc_id").agg(count(lit(1L)).as("n_words"),
          sum("syl").as("n_syll"))
      syl
        .withColumn("n_sents", expr("(n_words + 14) div 15"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          dround(lit(0.39) * (col("n_words").cast("double")
              / col("n_sents").cast("double"))
            + lit(11.8) * (col("n_syll").cast("double")
              / col("n_words").cast("double"))
            - lit(15.59), 3).as("fk_grade"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
              FROM documents),
            syl AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(greatest(1,
                       len(regexp_extract_all(w, '[aeiou]+')))) AS BIGINT)
                       AS n_syll
              FROM w GROUP BY 1),
            r AS (
              SELECT doc_id, n_words,
                     CAST((n_words + 14) // 15 AS BIGINT) AS n_sents, n_syll
              FROM syl)
            SELECT doc_id, n_words, n_sents, n_syll,
                   CAST(round(CAST(
                     0.39 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sents AS DOUBLE))
                     + 11.8 * (CAST(n_syll AS DOUBLE)
                               / CAST(n_words AS DOUBLE))
                     - 15.59 AS DECIMAL(30,8)), 3) AS DOUBLE) AS fk_grade
            FROM r ORDER BY doc_id"""))

  // -------------------------------------------------- token counting --

  /** Token counting three ways: whitespace split, BPE-ish regex word/number
    * pieces, and distinct-token vocabulary size.
    */
  private val qTextTokens = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).as("n_bpe"),
        size(array_distinct(split(lower(col("text")), " "))).as("n_vocab"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
                   CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_bpe,
                   CAST(len(list_distinct(string_split(lower(text), ' '))) AS INT) AS n_vocab
            FROM documents ORDER BY doc_id"""))

  // --------------------------------------------- document fingerprint --

  /** Rolling polynomial fingerprint over token hashes:
    * fp = fold((acc*31 + h(token)) mod 1e9+7, init 7) — an
    * order-sensitive exact-dup fingerprint (vs the order-free shingle
    * methods in DedupOps). Portable: h = first 16 bits of md5.
    */
  private val qTextFingerprint = GQuery(
    (s, d) =>
      // native single-pass RollingFp kernel — bit-exact with the original
      // transform+aggregate fold (pinned by VectorExpressionsSpec)
      t(s, d, "documents")
        .select(col("doc_id"),
          VectorExpressions.rollfp(split(lower(col("text")), " ")).as("fp"))
        .withColumn("n_same",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("fp")))
        .orderBy("doc_id"),
    Some {
      val h = graft.operators.DedupOps.duckHex4("md5(t)")
      s"""WITH v AS (
            SELECT doc_id,
                   list_reduce([CAST(7 AS BIGINT)] ||
                     list_transform(string_split(lower(text), ' '),
                       t -> CAST($h AS BIGINT)),
                     (a, b) -> (a * 31 + b) % 1000000007) AS fp
            FROM documents)
          SELECT doc_id, CAST(fp AS BIGINT) AS fp,
                 CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_same
          FROM v ORDER BY doc_id"""
    })

  /** Array-function battery over token arrays: sort, slice-join, membership,
    * position, distinct count, reverse — emitted as scalars (arrays never
    * appear in t2 output; cross-engine array hashing is undefined).
    */
  private val qScalarArrayFns = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"),
        array_join(slice(sort_array(col("toks")), 1, 3), ",").as("sorted3"),
        array_contains(col("toks"), "data").as("has_data"),
        array_position(col("toks"), "query").cast("int").as("query_pos"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        element_at(reverse(col("toks")), 1).as("last_tok"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                       FROM documents)
            SELECT doc_id,
                   array_to_string(list_slice(list_sort(toks), 1, 3), ',') AS sorted3,
                   list_contains(toks, 'data') AS has_data,
                   CAST(coalesce(list_position(toks, 'query'), 0) AS INT) AS query_pos,
                   CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
                   toks[-1] AS last_tok
            FROM t ORDER BY doc_id"""))

  /** UNNEST/explode: tokens flattened to (doc, position, token) rows via
    * posexplode — the generator/table-function surface. Bounded to 20 docs
    * (flattening is row-multiplying; the operator matters, not the volume).
    */
  private val qExplodeUnnest = GQuery(
    (s, d) => t(s, d, "documents")
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"), col("tok"))
      .orderBy("doc_id", "pos"),
    Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                       FROM documents WHERE doc_id < 20)
            SELECT doc_id,
                   CAST(unnest(generate_series(1, len(toks))) AS INT) AS pos,
                   unnest(toks) AS tok
            FROM t ORDER BY doc_id, pos"""))

  // ------------------------------------------------------------ TF-IDF --

  /** Per-doc most-characteristic term by tf·(N/df) — the log-free idf
    * variant: every arithmetic step (count ratios, one multiply, one divide)
    * is a correctly-rounded IEEE op, so scores are bit-identical across
    * engines, unlike ln()-based idf (libm vs JDK last-ulp drift). Ranking
    * quality is the same idea: frequent-in-doc, rare-in-corpus terms win.
    *
    * Shape at scale: explode → doc-term hash aggregation (tf) → df as a
    * COUNT window over the same rows partitioned by term (tf has exactly one
    * row per doc-term, so the window count IS the document frequency) — the
    * tf subtree is computed once, never re-scanned for a df join; the
    * corpus-size "join" is a 1-row broadcast. No driver-side counting.
    */
  private val qTextTfidf = GQuery(
    (s, d) => {
      val terms = t(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val withDf = tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")))
      val total = t(s, d, "documents").agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
      withDf.crossJoin(broadcast(total))
        .withColumn("score",
          col("tf").cast("double") * col("n_docs") / col("df"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          dround(col("score"), 6).as("score"))
        .orderBy("doc_id")
    },
    Some("""WITH tk AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
              FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY 1, 2),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            sc AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
              FROM tf JOIN df USING (term), n),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term) AS rn
              FROM sc)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
                   CAST(round(CAST(score AS DECIMAL(30,8)), 6) AS DOUBLE) AS score
            FROM r WHERE rn = 1 ORDER BY doc_id"""))

  // ------------------------------------------- unigram corpus-fit score --

  /** Perplexity-family corpus-fit score — the quality gate every LLM
    * pipeline runs over candidate documents, here as the hash-exact
    * log-free variant (the q_text_tfidf precedent: ln() drifts a last ulp
    * between libm and the JDK, so the t2 gate bans it): each held-out
    * (test-split, bucket ≥ 90) document scores the MEAN INVERSE PROBABILITY
    * of its tokens under the train split's (bucket < 80) unigram
    * distribution. Per-token surprisal is pure integer arithmetic —
    * `(train_total · 1e6) div count(token)` (Spark `div` ≡ DuckDB `//` for
    * positives, the fixed-point PageRank trick) — summed exactly, one
    * dround at the end. Unseen tokens take the count-1 floor and are
    * counted as `n_oov`: high rarity or OOV = off-distribution document,
    * exactly the eval-set-curation signal.
    *
    * Scale: train explode → token agg (1 shuffle); the vocab is VOCAB-sized
    * and broadcasts onto the exploded test tokens (map-only, the
    * q_vocab_bigrams economics); per-doc INTEGER agg (1 shuffle). At a
    * 1e12-token train corpus the 1e6 fixed-point base nears long range —
    * production drops the base or scores against per-shard totals; the
    * shape is unchanged.
    */
  private val qTextRarity = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val bucket = pmod(hex4(col("doc_id").cast("string")), lit(100))
      val toks = t(s, d, "documents")
        .select(col("doc_id"), bucket.as("bucket"),
          explode(split(lower(col("text")), " ")).as("tok"))
      val vocab = toks.filter(col("bucket") < 80)
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val totalTrain = vocab.agg(sum("c").as("n"))
      toks.filter(col("bucket") >= 90)
        .join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(totalTrain))
        .select(col("doc_id"),
          coalesce(col("c"), lit(1L)).as("cf"),
          col("c").isNull.cast("long").as("is_oov"), col("n"))
        .withColumn("itok", expr("(n * CAST(1000000 AS BIGINT)) div cf"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("is_oov").as("n_oov"),
          sum("itok").as("isum"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          dround(col("isum").cast("double") / lit(1e6) / col("n_tokens"), 4)
            .as("rarity"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tk AS (
              SELECT doc_id,
                     ${graft.operators.DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket,
                     unnest(string_split(lower(text), ' ')) AS tok
              FROM documents),
            vocab AS (
              SELECT tok, count(*) AS c FROM tk WHERE bucket < 80 GROUP BY 1),
            n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab),
            sc AS (
              SELECT te.doc_id,
                     coalesce(v.c, 1) AS cf,
                     CASE WHEN v.c IS NULL THEN 1 ELSE 0 END AS is_oov,
                     n.n
              FROM (SELECT doc_id, tok FROM tk WHERE bucket >= 90) te
              LEFT JOIN vocab v USING (tok), n)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(is_oov) AS BIGINT) AS n_oov,
                   CAST(round(CAST(CAST(sum((n * 1000000) // cf) AS DOUBLE)
                     / 1e6 / count(*) AS DECIMAL(30,8)), 4) AS DOUBLE) AS rarity
            FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------- repetition quality --

  /** Gopher-style repetition signals per doc: unique-token ratio and
    * duplicate-bigram fraction. Pure HOFs — no shuffle, no explode; at scale
    * this is a single codegen'd map pass over the corpus.
    */
  private val qTextRepetition = GQuery(
    (s, d) => {
      // bigram at the last position degenerates to 1 token (slice clamps) —
      // DuckDB's list_slice clamps identically, so the strings agree
      val bigrams = transform(
        sequence(lit(1), greatest(size(col("toks")) - 1, lit(1))),
        i => concat_ws(" ", slice(col("toks"), i, lit(2))))
      t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_uniq"), bigrams.as("bg"))
        .select(col("doc_id"), col("n_tokens"),
          dround(col("n_uniq").cast("double") / col("n_tokens"), 4)
            .as("uniq_ratio"),
          dround((size(col("bg")) - size(array_distinct(col("bg"))))
            .cast("double") / size(col("bg")), 4).as("dup_bigram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(toks) AS INT) AS n_tokens,
                     CAST(len(list_distinct(toks)) AS INT) AS n_uniq,
                     list_transform(generate_series(1, greatest(len(toks) - 1, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS bg
              FROM t)
            SELECT doc_id, n_tokens,
                   CAST(round(CAST(CAST(n_uniq AS DOUBLE) / n_tokens
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS uniq_ratio,
                   CAST(round(CAST(CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                     / len(bg) AS DECIMAL(30,8)), 4) AS DOUBLE) AS dup_bigram_frac
            FROM m ORDER BY doc_id"""))

  // ---------------------------------------------------- Cohen's kappa --

  /** Cohen's κ (Cohen 1960 — public) between the q_text_langid n-gram
    * rater and the gold `lang` label — the chance-corrected agreement
    * number that q_eval_confusion's raw accuracy overstates whenever the
    * label distribution is skewed (here 'en' is 44% of docs, so a rater
    * that always says 'en' already "agrees" 44% of the time; κ subtracts
    * exactly that). Multi-class: κ = (N·Σnᵢᵢ − Σrᵢcᵢ)/(N² − Σrᵢcᵢ) with
    * row/column marginals over the confusion grid — every term an exact
    * BIGINT (the grid is |labels|²-bounded), one dround'd division, and
    * the label sets need not match ('zh' has no profile and 'und'
    * backstops — both simply never land on the diagonal). Emits observed
    * and expected agreement next to κ with the Landis–Koch band verdict.
    * (On THIS corpus the demonstration lands exactly: the word-salad text
    * defeats the stopword profiles, the rater collapses to a constant,
    * and κ reads exactly 0 where raw accuracy reads 0.436 — the
    * skew-blindness the statistic exists to expose.)
    *
    * Scale: the langid map + one |labels|²-bounded confusion agg
    * (map-combinable) + marginal rollups of that grid — label-domain
    * economics regardless of corpus size.
    */
  private val qEvalKappa = GQuery(
    (s, d) => {
      val encoded = langProfiles.map { case (_, rank, words) =>
        size(filter(col("toks"), tk => tk.isin(words.map(lit): _*))) * 8 +
          lit(rank)
      }
      val m = greatest(encoded: _*)
      val pred = langProfiles.foldLeft(lit("und")) { case (acc, (l, rank, _)) =>
        when(pmod(m, lit(8)) === rank, l).otherwise(acc)
      }
      val conf = t(s, d, "documents")
        .select(col("lang"), split(lower(col("text")), " ").as("toks"))
        .select(col("lang"), pred.as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1L)).as("n"))
        .localCheckpoint(true) // grid feeds diagonal + both marginals
      val diag = conf.agg(sum(when(col("lang") === col("pred_lang"),
        col("n")).otherwise(0L)).as("n_agree"), sum("n").as("n_total"))
      val rows = conf.groupBy("lang").agg(sum("n").as("r"))
      val cols = conf.groupBy("pred_lang").agg(sum("n").as("c"))
      val exp = rows.join(cols, col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("sum_rc"))
      diag.crossJoin(broadcast(exp))
        .select(col("n_total"), col("n_agree"), col("sum_rc"),
          dround(col("n_agree").cast("double") /
            col("n_total").cast("double"), 6).as("p_observed"),
          dround(col("sum_rc").cast("double") /
            (col("n_total") * col("n_total")).cast("double"), 6)
            .as("p_expected"),
          dround((col("n_total") * col("n_agree") - col("sum_rc"))
            .cast("double") /
            (col("n_total") * col("n_total") - col("sum_rc"))
              .cast("double"), 6).as("kappa"))
        .withColumn("at_least_moderate", col("kappa") > 0.4)
    },
    Some {
      val enc = langProfiles.map { case (_, rank, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($inList))) * 8 + $rank"
      }.mkString("greatest(", ", ", ")")
      val pred = langProfiles.foldLeft("'und'") { case (acc, (l, rank, _)) =>
        s"CASE WHEN m % 8 = $rank THEN '$l' ELSE $acc END"
      }
      s"""WITH sc AS (SELECT lang, $enc AS m FROM documents),
          conf AS (
            SELECT lang, $pred AS pred_lang, CAST(count(*) AS BIGINT) AS n
            FROM sc GROUP BY 1, 2),
          diag AS (
            SELECT CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
                     AS BIGINT) AS n_agree,
                   CAST(sum(n) AS BIGINT) AS n_total
            FROM conf),
          r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS r FROM conf
                GROUP BY 1),
          c AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS c FROM conf
                GROUP BY 1),
          e AS (
            SELECT CAST(coalesce(sum(r.r * c.c), 0) AS BIGINT) AS sum_rc
            FROM r JOIN c ON r.lang = c.pred_lang),
          k AS (
            SELECT n_total, n_agree, sum_rc,
                   CAST(round(CAST(CAST(n_agree AS DOUBLE)
                     / CAST(n_total AS DOUBLE) AS DECIMAL(30,8)), 6)
                     AS DOUBLE) AS p_observed,
                   CAST(round(CAST(CAST(sum_rc AS DOUBLE)
                     / CAST(n_total * n_total AS DOUBLE)
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS p_expected,
                   CAST(round(CAST(CAST(n_total * n_agree - sum_rc
                     AS DOUBLE) / CAST(n_total * n_total - sum_rc
                     AS DOUBLE) AS DECIMAL(30,8)), 6) AS DOUBLE) AS kappa
            FROM diag, e)
          SELECT n_total, n_agree, sum_rc, p_observed, p_expected, kappa,
                 kappa > 0.4 AS at_least_moderate
          FROM k"""
    })

  // ------------------------------------------------ blocklist filter --

  /** Multi-term blocklist filter — the safety/compliance scan every
    * training-data pipeline runs before anything else: per document, hit
    * counts against a term list, how many DISTINCT blocked terms appear,
    * the earliest hit position (reviewers read from the first hit), and a
    * hits-per-1k-token density; the verdict combines breadth (≥ 3 distinct
    * terms) and density (≥ 80/1k). Implementation is term-at-a-time over
    * the materialized token array (tokens as a COLUMN first — the HOF
    * lambda re-evaluation invariant): `filter` + `array_position` per
    * term, codegen'd, no join and no explode, so cost is O(tokens·|list|)
    * map-side. Position semantics bridged cross-engine: Spark's absent →
    * 0 vs DuckDB's absent → NULL both normalize through a sentinel before
    * the min.
    *
    * Scale: embarrassingly parallel map over documents; a 10⁴-term list
    * swaps the per-term columns for ONE explode + broadcast terms join
    * (the q_decontaminate shape) — same outputs, documented here as the
    * big-list path.
    */
  private val qTextBlocklist = GQuery(
    (s, d) => {
      val terms = Seq("spark", "vector", "window", "merge")
      val toked = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val hit = terms.map(tm =>
        size(expr(s"filter(toks, x -> x = '$tm')")).cast("long"))
      val pos = terms.map(tm =>
        coalesce(nullif(array_position(col("toks"), tm), lit(0L)),
          lit(999999999L)))
      toked
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          hit.reduce(_ + _).as("n_hits"),
          hit.map(h => (h > 0L).cast("long")).reduce(_ + _)
            .as("n_terms_hit"),
          least(pos: _*).as("p0"))
        .select(col("doc_id"), col("n_tokens"), col("n_hits"),
          col("n_terms_hit"),
          nullif(col("p0"), lit(999999999L)).as("first_hit_pos"),
          dround(col("n_hits").cast("double") * 1000 / col("n_tokens"), 2)
            .as("density_per_1k"))
        .withColumn("blocked",
          col("n_terms_hit") >= 3 || col("density_per_1k") >= 80.0)
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            m AS (
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(len(list_filter(toks, x -> x = 'spark'))
                       + len(list_filter(toks, x -> x = 'vector'))
                       + len(list_filter(toks, x -> x = 'window'))
                       + len(list_filter(toks, x -> x = 'merge'))
                       AS BIGINT) AS n_hits,
                     CAST((CASE WHEN len(list_filter(toks, x -> x = 'spark'))
                         > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN len(list_filter(toks, x -> x = 'vector'))
                         > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN len(list_filter(toks, x -> x = 'window'))
                         > 0 THEN 1 ELSE 0 END)
                       + (CASE WHEN len(list_filter(toks, x -> x = 'merge'))
                         > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_terms_hit,
                     least(coalesce(nullif(CAST(list_position(toks, 'spark')
                         AS BIGINT), 0), 999999999),
                       coalesce(nullif(CAST(list_position(toks, 'vector')
                         AS BIGINT), 0), 999999999),
                       coalesce(nullif(CAST(list_position(toks, 'window')
                         AS BIGINT), 0), 999999999),
                       coalesce(nullif(CAST(list_position(toks, 'merge')
                         AS BIGINT), 0), 999999999)) AS p0
              FROM t)
            SELECT doc_id, n_tokens, n_hits, n_terms_hit,
                   nullif(p0, 999999999) AS first_hit_pos,
                   CAST(round(CAST(CAST(n_hits AS DOUBLE) * 1000 / n_tokens
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS density_per_1k,
                   n_terms_hit >= 3
                     OR CAST(round(CAST(CAST(n_hits AS DOUBLE) * 1000
                       / n_tokens AS DECIMAL(30,8)), 2) AS DOUBLE) >= 80.0
                     AS blocked
            FROM m ORDER BY doc_id"""))

  // ------------------------------------------------------ PII scrub --

  /** Pattern-scrub pass (the PII-masking stage of a training-data pipeline,
    * in deterministic form): digit runs masked to '#', with run counts and
    * the masked text summarized as scalars. Spark's regexp_replace is
    * global by default; DuckDB needs the 'g' flag.
    */
  private val qTextScrub = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), col("text"),
        regexp_replace(col("text"), "[0-9]+", "#").as("masked"))
      .select(col("doc_id"),
        substring(col("masked"), 1, 40).as("masked_prefix"),
        length(col("masked")).as("masked_len"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_digit_runs"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
                   substr(regexp_replace(text, '[0-9]+', '#', 'g'), 1, 40)
                     AS masked_prefix,
                   CAST(len(regexp_replace(text, '[0-9]+', '#', 'g')) AS INT)
                     AS masked_len,
                   CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT)
                     AS n_digit_runs
            FROM documents ORDER BY doc_id"""))

  /** Vocabulary building: top-100 tokens by document frequency — the
    * tokenizer-training precursor. Distinct-per-doc explode bounds each
    * doc's contribution to 1 per token; the global top-k is
    * TakeOrderedAndProject (per-partition heaps, never a global sort).
    * Ties broken by token for a total order.
    */
  private val qVocabTopk = GQuery(
    (s, d) => t(s, d, "documents")
      .select(explode(array_distinct(split(lower(col("text")), " "))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token")).limit(100),
    Some("""WITH t AS (
              SELECT unnest(list_distinct(string_split(lower(text), ' '))) AS token
              FROM documents)
            SELECT token, CAST(count(*) AS BIGINT) AS df
            FROM t GROUP BY token ORDER BY df DESC, token LIMIT 100"""))

  /** Adjacent-pair (bigram) statistics — the BPE merge-candidate step: the
    * most frequent ADJACENT token pair is exactly what a BPE trainer merges
    * next, and the lift ratio (n·c(ab) / (c(a)·c(b)), the log-free PMI
    * monotone) separates collocations from pairs that co-occur by chance.
    * Pairs explode positionally (zip of toks with its own tail — one row
    * per adjacency, linear in tokens); counts are exact integers; lift is
    * integer arithmetic until one final dround'd division. Top-20 by count
    * with pair tiebreak = TakeOrderedAndProject, never a global sort.
    */
  private val qVocabBigrams = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(explode(zip_with(col("toks"),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(1))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .filter(col("p.w2").isNotNull)
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val uni = docs
        .select(explode(col("toks")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c"))
      // total tokens from the (tiny) unigram agg — NOT a third corpus scan
      val n = uni.select(sum(col("c"))).head.getLong(0)
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), "w2")
        .select(col("w1"), col("w2"), col("c_pair"),
          dround((col("c_pair") * lit(n)).cast("double")
            / (col("c1") * col("c2")), 4).as("lift"))
        .orderBy(col("c_pair").desc, col("w1"), col("w2")).limit(20)
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            pairs AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM d, LATERAL (SELECT unnest(generate_series(1,
                greatest(len(toks) - 1, 0))) AS i)),
            uni AS (
              SELECT unnest(toks) AS w FROM d),
            uc AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
            n AS (SELECT count(*) AS n FROM uni)
            SELECT p.w1, p.w2, CAST(count(*) AS BIGINT) AS c_pair,
                   CAST(round(CAST(CAST(count(*) * n.n AS DOUBLE)
                     / (u1.c * u2.c) AS DECIMAL(30,8)), 4) AS DOUBLE) AS lift
            FROM pairs p, n
            JOIN uc u1 ON u1.w = p.w1
            JOIN uc u2 ON u2.w = p.w2
            GROUP BY p.w1, p.w2, n.n, u1.c, u2.c
            ORDER BY c_pair DESC, w1, w2 LIMIT 20"""))

  /** Fuzzy matching / record linkage: edit distance over BLOCKED candidate
    * pairs — the classic two-phase shape (block on a cheap key, score the
    * in-block pairs), here first-2-token prefix blocks (the
    * q_dedup_ngram_jaccard blocking) scored by `levenshtein` on the first
    * 60 chars (codegen'd built-in, identical semantics in DuckDB — integer
    * distances hash-match exactly). The 60-char truncation bounds the
    * O(n·m) DP cost per pair.
    *
    * STOP-BLOCK GUARD (the at-scale safety valve, ADVICE/VERDICT r4):
    * natural-language prefixes are Zipfian ("it is", "this is"), so one hot
    * block is O(n²) pairs in a single reducer at 100 TB. Block membership is
    * counted with a WINDOW over blk (one shuffle, reused by the join) and
    * blocks past `LevMaxBlock` are DROPPED before the self-join — the exact
    * stop-shingle pattern of q_decontaminate: an ultra-common prefix carries
    * no linkage signal, like a stop word. The threshold is a knob; it is set
    * low enough that the sf0.01 t2 gate exercises the drop path in both
    * engines (blocks of 4 exist at sf0.01), so the oracle hash actually
    * gates the guard, not just the scoring.
    */
  private[graft] val LevMaxBlock = 3
  private val qTextLevenshtein = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), lower(col("text")).as("txt"))
        .withColumn("blk",
          array_join(slice(split(col("txt"), " "), 1, 2), " "))
        .withColumn("nb", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("blk")))
        .filter(col("nb") <= LevMaxBlock)
        .drop("nb")
      val a = docs.select(col("doc_id").as("doc_a"), col("txt").as("txt_a"),
        col("blk"))
      val b = docs.select(col("doc_id").as("doc_b"), col("txt").as("txt_b"),
        col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          levenshtein(substring(col("txt_a"), 1, 60),
            substring(col("txt_b"), 1, 60)).as("dist"))
        .withColumn("near", col("dist") <= 15)
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""WITH d0 AS (
              SELECT doc_id, lower(text) AS txt,
                     array_to_string(list_slice(string_split(lower(text), ' '),
                       1, 2), ' ') AS blk
              FROM documents),
            d AS (
              SELECT doc_id, txt, blk FROM (
                SELECT *, count(*) OVER (PARTITION BY blk) AS nb FROM d0)
              WHERE nb <= $LevMaxBlock)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(levenshtein(substr(a.txt, 1, 60),
                     substr(b.txt, 1, 60)) AS INT) AS dist,
                   levenshtein(substr(a.txt, 1, 60),
                     substr(b.txt, 1, 60)) <= 15 AS near
            FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b"""))

  // ------------------------------------------- Gopher-rule filtering --

  /** Gopher-rules document filter (Rae et al. 2021 §A1.1, the published
    * quality-rule battery every LLM corpus pipeline reimplements): hard
    * per-document checks, each yielding a bit in an explainable violation
    * mask — downstream curation reads WHY a doc was dropped, not just that
    * it was. Rules (thresholds tuned so the sf0.01 gate exercises both
    * outcomes of every rule):
    *   bit 1 — word count ≥ 30;
    *   bit 2 — mean word length in [4, 5];
    *   bit 4 — ≥ 2 stopwords (the Gopher "stop word" check);
    *   bit 8 — unique-word ratio ≥ 50% (repetition signal).
    * All ratios are cross-multiplied integers (4·nw ≤ Σlen, 2·nd ≥ nw …) —
    * no division anywhere, so the t2 hash gates exact values. Map-only:
    * per-row array math, no shuffle, no stats pass — the filter streams at
    * scan speed over 100 TB and composes in front of any dedup stage.
    */
  private val qQualityGopher = GQuery(
    (s, d) => {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("nw"),
          aggregate(col("toks"), lit(0L), (acc, tk) => acc + length(tk))
            .as("sumlen"),
          size(filter(col("toks"), tk => tk.isin(stops.map(lit): _*)))
            .cast("long").as("nstop"),
          size(array_distinct(col("toks"))).cast("long").as("nd"))
        .select(col("doc_id"), col("nw"),
          (when(col("nw") >= 30, 0).otherwise(1)
            + when(col("sumlen") >= col("nw") * 4
                && col("sumlen") <= col("nw") * 5, 0).otherwise(2)
            + when(col("nstop") >= 2, 0).otherwise(4)
            + when(col("nd") * 2 >= col("nw"), 0).otherwise(8))
            .cast("int").as("flags"))
        .withColumn("keep", col("flags") === 0)
        .orderBy("doc_id")
    },
    Some("""WITH s AS (
              SELECT doc_id, CAST(len(toks) AS BIGINT) AS nw,
                     CAST(list_sum(list_transform(toks, tk -> len(tk))) AS BIGINT) AS sumlen,
                     CAST(len(list_filter(toks, tk -> tk IN
                       ('the','a','of','and','to','in','is'))) AS BIGINT) AS nstop,
                     CAST(len(list_distinct(toks)) AS BIGINT) AS nd
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                    FROM documents))
            SELECT doc_id, nw,
                   CAST((CASE WHEN nw >= 30 THEN 0 ELSE 1 END)
                      + (CASE WHEN sumlen >= nw * 4 AND sumlen <= nw * 5
                              THEN 0 ELSE 2 END)
                      + (CASE WHEN nstop >= 2 THEN 0 ELSE 4 END)
                      + (CASE WHEN nd * 2 >= nw THEN 0 ELSE 8 END) AS INT)
                     AS flags,
                   (CASE WHEN nw >= 30 THEN 0 ELSE 1 END)
                      + (CASE WHEN sumlen >= nw * 4 AND sumlen <= nw * 5
                              THEN 0 ELSE 2 END)
                      + (CASE WHEN nstop >= 2 THEN 0 ELSE 4 END)
                      + (CASE WHEN nd * 2 >= nw THEN 0 ELSE 8 END) = 0 AS keep
            FROM s ORDER BY doc_id"""))

  // --------------------------------------------- bigram LM scoring --

  /** Bigram language-model fluency score — the KenLM-style perplexity
    * filter of CCNet/RedPajama in its distributed form: train bigram
    * conditionals on the corpus itself (c(w1,w2)/c(w1·)), score each doc by
    * its mean token log-probability, flag the bottom tail as disfluent.
    * Docs whose token transitions are typical of the corpus score high;
    * word-salad repetition scores low — exactly the curation signal.
    *
    * Hash-exactness: each BIGRAM's log-prob is quantized ONCE to integer
    * milli-nats (round(ln(c12/c1)·1000) — exact integer division inputs,
    * one libm call per DISTINCT bigram, empirically boundary-free), and doc
    * scores are then exact INTEGER sums of those quanta — order-proof where
    * a per-doc double sum of raw logs would drift at the rounding grid.
    *
    * Scale: pair explode is linear; counts are two partial aggs; the
    * per-pair re-join keys on the bigram (high entropy, no hot key — the
    * conditional already divides out w1's frequency); per-doc re-agg
    * shuffles doc_id. The model table is O(distinct bigrams): it is
    * broadcast while its row count stays within `graft.broadcast.maxKeys`
    * and shuffle-joined above it, because a 100-TB corpus's bigram
    * vocabulary isn't small.
    */
  private val qTextLmScore = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(col("doc_id"), explode(zip_with(col("toks"),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(1))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
        .filter(col("p.w2").isNotNull)
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      // one corpus pass builds the bigram table; the unigram marginals are
      // its per-w1 sums (identical to counting pair instances), so the
      // model needs no second corpus pass — and below the size guard it
      // broadcasts, so scoring never shuffles the exploded pair stream
      val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .localCheckpoint(true)
      val uni = big.groupBy("w1").agg(sum("c12").as("c1"))
      val model = big.join(uni, "w1")
        .withColumn("q",
          round(log(col("c12").cast("double") / col("c1")) * 1000).cast("long"))
      // SIZE-GUARDED broadcast (guide §3.1, ADVICE r12): the model is
      // O(distinct bigrams) — broadcastable on this corpus (so scoring
      // never shuffles the exploded pair stream) but NOT at a 100-TB
      // bigram vocabulary. `big` is already materialized (the checkpoint
      // above), so counting it is a metadata-cheap job, and model rows ==
      // big rows (the uni join is key-preserving). Above the bound the
      // scoring join falls back to the documented shuffle-join contract
      // (SCALE.md). 5M bigram rows ≈ low hundreds of MB framed — inside
      // broadcast limits with slack.
      val modelBroadcastable =
        big.count() <= s.conf.get("graft.broadcast.maxKeys", "5000000").toLong
      pairs.join(if (modelBroadcastable) broadcast(model) else model,
          Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("q").as("sum_milli"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_milli"),
          dround(col("sum_milli").cast("double") / col("n_bigrams"), 3)
            .as("avg_milli"))
        .withColumn("fluent", col("sum_milli") >= col("n_bigrams") * -3400)
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            pairs AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM d, LATERAL (SELECT unnest(generate_series(1,
                greatest(len(toks) - 1, 0))) AS i)),
            big AS (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2),
            uni AS (SELECT w1, count(*) AS c1 FROM pairs GROUP BY 1),
            model AS (
              SELECT big.w1, big.w2,
                     CAST(round(ln(CAST(c12 AS DOUBLE) / c1) * 1000) AS BIGINT) AS q
              FROM big JOIN uni ON big.w1 = uni.w1),
            s AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     CAST(sum(q) AS BIGINT) AS sum_milli
              FROM pairs JOIN model USING (w1, w2)
              GROUP BY doc_id)
            SELECT doc_id, n_bigrams, sum_milli,
                   CAST(round(CAST(CAST(sum_milli AS DOUBLE) / n_bigrams
                     AS DECIMAL(30,8)), 3) AS DOUBLE) AS avg_milli,
                   sum_milli >= n_bigrams * -3400 AS fluent
            FROM s ORDER BY doc_id"""))

  // ------------------------------------------------- BM25 retrieval --

  /** BM25 ranked retrieval — the full-text search scorer (Robertson/Spärck
    * Jones; the tf-idf refinement every search engine ships): per-(query,
    * doc) score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(t) = ln((N−df+0.5)/(df+0.5)+1). Complements q_text_tfidf (feature
    * vectors) with the retrieval form: static query set, top-5 per query.
    *
    * Scale shape (single corpus scan end-to-end):
    *  - corpus stats (N, avgdl, per-term df) are ONE tiny partial agg
    *    broadcast back — never a second scan, never a driver collect;
    *  - scoring is per-row arithmetic over the broadcast row (map-only);
    *  - group-wise top-k is the two-level form: local row_number per
    *    (qid, doc_id%16 salt) prunes to ≤80 candidates per query, the
    *    global window then ranks ≤80 rows — a per-qid window over the raw
    *    corpus would funnel N rows through 3 reducers at 100 TB.
    * Ranking happens on the dround'd score (4 dp) so both engines rank the
    * identical value; doc_id breaks ties for a total order. avgdl is exact
    * cross-engine: doc lengths are integers, so the double sum is
    * order-proof below 2^53.
    */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val bm25Queries: Seq[(String, Seq[String])] = Seq(
    ("hash_join", Seq("hash", "join")),
    ("stream_pipe", Seq("stream", "window", "merge")),
    ("vector_scan", Seq("vector", "scan")))

  private val qTextBm25 = GQuery(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .withColumn("dl", size(col("toks")).cast("double"))
      val allTerms = bm25Queries.flatMap(_._2).distinct
      val statCols = count(lit(1)).cast("double").as("n_docs") +:
        avg(col("dl")).as("avgdl") +:
        allTerms.map(tm =>
          sum(when(array_contains(col("toks"), tm), 1L).otherwise(0L))
            .cast("double").as(s"df_$tm"))
      val stats = docs.agg(statCols.head, statCols.tail: _*)
      val perQuery = bm25Queries.map { case (qid, terms) =>
        val score = terms.map { tm =>
          val tf = size(filter(col("toks"), tk => tk === tm)).cast("double")
          val idf = log(
            (col("n_docs") - col(s"df_$tm") + 0.5) / (col(s"df_$tm") + 0.5)
              + 1.0)
          // association mirrors the oracle exactly: (b*dl)/avgdl, then
          // (1-b) + that — fp identical only when the tree matches
          idf * (tf * (Bm25K1 + 1.0)) /
            (tf + lit(Bm25K1) * (lit(1.0 - Bm25B)
              + lit(Bm25B) * col("dl") / col("avgdl")))
        }.reduce(_ + _)
        struct(lit(qid).as("qid"), dround(score, 4).as("score"))
      }
      val wLocal = Window
        .partitionBy(col("qid"), pmod(col("doc_id"), lit(16)))
        .orderBy(col("score").desc, col("doc_id").asc)
      val wGlobal = Window.partitionBy(col("qid"))
        .orderBy(col("score").desc, col("doc_id").asc)
      docs.crossJoin(broadcast(stats))
        .select(col("doc_id"), explode(array(perQuery: _*)).as("qs"))
        .select(col("doc_id"), col("qs.qid").as("qid"), col("qs.score").as("score"))
        .withColumn("rn", row_number().over(wLocal)).filter(col("rn") <= 5)
        .withColumn("rk", row_number().over(wGlobal).cast("int"))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("doc_id"), col("score"))
        .orderBy("qid", "rk")
    },
    Some {
      val allTerms = bm25Queries.flatMap(_._2).distinct
      val dfCols = allTerms.map(tm =>
        s"CAST(sum(CASE WHEN list_contains(toks, '$tm') THEN 1 ELSE 0 END) AS DOUBLE) AS df_$tm")
        .mkString(",\n                     ")
      val branches = bm25Queries.map { case (qid, terms) =>
        val score = terms.map { tm =>
          s"""(ln((n_docs - df_$tm + 0.5) / (df_$tm + 0.5) + 1.0)
               * (CAST(len(list_filter(toks, tk -> tk = '$tm')) AS DOUBLE) * ${Bm25K1 + 1.0})
               / (CAST(len(list_filter(toks, tk -> tk = '$tm')) AS DOUBLE)
                  + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl / avgdl)))"""
        }.mkString(" + ")
        s"""SELECT doc_id, '$qid' AS qid,
               CAST(round(CAST($score AS DECIMAL(30,8)), 4) AS DOUBLE) AS score
            FROM docs CROSS JOIN stats"""
      }.mkString("\n            UNION ALL\n            ")
      s"""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks,
                     CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
              FROM documents),
            stats AS (
              SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
                     $dfCols
              FROM docs),
            scored AS (
              $branches),
            ranked AS (
              SELECT qid, doc_id, score,
                     row_number() OVER (PARTITION BY qid
                       ORDER BY score DESC, doc_id ASC) AS rk
              FROM scored)
            SELECT qid, CAST(rk AS INT) AS rk, doc_id, score
            FROM ranked WHERE rk <= 5 ORDER BY qid, rk"""
    })

  /** Feature hashing (the hashing trick, Weinberger et al. 2009) with its
    * collision profile — the fixed-width vectorizer that needs NO vocabulary
    * pass: token → md5-hex4 mod 256 bucket, sign from the next hash bit
    * (unbiased signed variant). Emits the 20 most loaded buckets with their
    * total hits, signed sum, and DISTINCT-token load — the collision count
    * that decides whether 2^k buckets suffice for the vocabulary, which is
    * the one diagnostic a hashing-trick deployment must watch (collisions
    * are silent; this makes them a number).
    *
    * Scale: one token explode → (bucket) partial agg; the distinct-token
    * load aggregates over the (bucket, token) pairs — bounded by vocabulary,
    * not corpus (the tfidf df economics). No vocabulary broadcast, no
    * dictionary build: exactly why the trick exists at 100 TB.
    */
  private val qTextHashing = GQuery(
    (s, d) => {
      val toks = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("tok"))
      val hashed = toks.select(col("tok"),
        graft.operators.DedupOps.hex4(col("tok")).as("h"))
        .select(col("tok"), pmod(col("h"), lit(256)).as("bucket"),
          when(pmod(expr("h div 256"), lit(2)) === 0, 1L).otherwise(-1L)
            .as("sign"))
      val perTok = hashed.groupBy("bucket", "tok")
        .agg(count(lit(1)).as("c"), max("sign").as("sign"))
      perTok.groupBy("bucket")
        .agg(sum("c").as("n_hits"),
          sum(col("c") * col("sign")).as("signed_sum"),
          count(lit(1)).as("n_tokens"))
        .orderBy(col("n_hits").desc, col("bucket").asc)
        .limit(20)
    },
    Some(s"""WITH toks AS (
               SELECT unnest(string_split(lower(text), ' ')) AS tok
               FROM documents),
             hashed AS (
               SELECT tok,
                      ${graft.operators.DedupOps.duckHex4("md5(tok)")} AS h
               FROM toks),
             b AS (
               SELECT tok, h % 256 AS bucket,
                      CASE WHEN (h // 256) % 2 = 0 THEN 1 ELSE -1 END AS sign
               FROM hashed),
             pertok AS (
               SELECT bucket, tok, CAST(count(*) AS BIGINT) AS c,
                      CAST(max(sign) AS BIGINT) AS sign
               FROM b GROUP BY 1, 2)
             SELECT bucket, CAST(sum(c) AS BIGINT) AS n_hits,
                    CAST(sum(c * sign) AS BIGINT) AS signed_sum,
                    CAST(count(*) AS BIGINT) AS n_tokens
             FROM pertok GROUP BY 1
             ORDER BY n_hits DESC, bucket LIMIT 20"""))

  // ----------------------------------------------------- Zipf-law fit --

  /** Zipf's-law fit of the corpus vocabulary: least-squares slope of
    * log-frequency against log-rank (natural Zipf ≈ −1; a much flatter
    * slope flags synthetic/templated text — a corpus-level quality signal
    * next to the per-doc Gopher rules). Each point's ln is quantized ONCE
    * to integer micro-nats (the q_text_lm_score milli-nat precedent —
    * quantize-then-sum, never sum-then-round), the regression moment sums
    * accumulate exactly in BIGINT, and fp appears only in the final
    * slope/intercept divisions, dround-snapped. Rank ties break on the
    * token so both engines rank identically.
    *
    * Scale: one token count agg (vocab-sized) + one rank window over the
    * VOCAB (never the corpus) + one scalar moment agg. At web scale the
    * vocab rank window swaps for the bucketed top-k shape (q_text_bm25's
    * salted two-level pattern) and the tail truncates at rank K — the
    * slope is rank-weighted, so the head dominates anyway.
    */
  private val qVocabZipf = GQuery(
    (s, d) => {
      val wRank = Window.orderBy(col("c").desc, col("token").asc)
      val pts = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(wRank).cast("long"))
        .select(
          round(log(col("rk").cast("double")) * 1e6).cast("long").as("lx"),
          round(log(col("c").cast("double")) * 1e6).cast("long").as("ly"))
      pts.agg(count(lit(1L)).as("n"),
          sum("lx").as("sx"), sum("ly").as("sy"),
          sum(col("lx") * col("ly")).as("sxy"),
          sum(col("lx") * col("lx")).as("sxx"))
        .select(col("n"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            dround((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
            .as("slope"),
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            dround(((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * col("sx")) / col("n").cast("double")) / 1e6, 6))
            .as("intercept_nats"))
    },
    Some("""WITH t AS (
              SELECT unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
            v AS (SELECT token, CAST(count(*) AS BIGINT) AS c
                  FROM t GROUP BY token),
            pts AS (
              SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC,
                       token ASC) AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
                     CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS ly
              FROM v),
            m AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(lx) AS BIGINT) AS sx,
                     CAST(sum(ly) AS BIGINT) AS sy,
                     CAST(sum(lx * ly) AS BIGINT) AS sxy,
                     CAST(sum(lx * lx) AS BIGINT) AS sxx
              FROM pts)
            SELECT n,
                   CASE WHEN n * sxx - sx * sx > 0 THEN
                     CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS slope,
                   CASE WHEN n * sxx - sx * sx > 0 THEN
                     CAST(round(CAST(
                       ((CAST(sy AS DOUBLE)
                         - CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(sx AS DOUBLE))
                        / CAST(n AS DOUBLE)) / 1e6
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS intercept_nats
            FROM m"""))

  // ------------------------------------- Naive-Bayes quality classifier --

  /** Model-based corpus classifier — the CCNet/GPT-3-style "quality filter"
    * shape: train a multinomial Naive Bayes on the hash-split 80% (label:
    * lang = 'en' vs rest), score the held-out 20%, and emit the confusion
    * matrix + accuracy. Token log-odds are Laplace-smoothed rationals of
    * exact training counts, quantized ONCE per token to integer milli-nats
    * (the q_text_lm_score rule — quantize-then-sum); a doc's score is the
    * prior plus an exact BIGINT sum over its token occurrences (vocabulary
    * misses score the smoothing floor ln((T₀+V)/(T₁+V)), one quantized
    * constant). The decision threshold compares integers — no fp in any
    * per-doc path.
    *
    * Scale: lm_score economics — the model is a token-keyed TABLE joined
    * (not broadcast: a web-scale vocab isn't small) against the exploded
    * token stream, then one per-doc re-agg and a 4-cell confusion agg.
    * Training is one grouped count over the same stream; the 80/20 split is
    * the hash rule, so train/test membership is append-stable.
    */
  private val qTextClassifierNb = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ").as("toks"))
        .withColumn("y", when(col("lang") === "en", 1L).otherwise(0L))
        .withColumn("train", pmod(hex4(col("doc_id").cast("string")), lit(100)) < 80)
      val toks = docs.select(col("doc_id"), col("y"), col("train"),
        explode(col("toks")).as("token"))
      val counts = toks.filter(col("train"))
        .groupBy("token")
        .agg(sum("y").as("c1"), sum(lit(1L) - col("y")).as("c0"))
        // vocab-sized; feeds tot + model (and tot fans out to model/oov) —
        // unmaterialized, the corpus explode+agg replayed under each
        .localCheckpoint(true)
      val tot = counts.agg(sum("c1").as("t1"), sum("c0").as("t0"),
        count(lit(1L)).as("vv"))
      // per-token log-odds and the shared out-of-vocabulary floor, each
      // quantized once to milli-nats
      val model = counts.crossJoin(broadcast(tot))
        .select(col("token"),
          round((log((col("c1") + 1).cast("double") / (col("t1") + col("vv"))
            .cast("double")) -
            log((col("c0") + 1).cast("double") / (col("t0") + col("vv"))
              .cast("double"))) * 1000).cast("long").as("lo_milli"))
      val oov = tot.select(
        round((log(lit(1.0) / (col("t1") + col("vv")).cast("double")) -
          log(lit(1.0) / (col("t0") + col("vv")).cast("double"))) * 1000)
          .cast("long").as("oov_milli"))
      val prior = docs.filter(col("train"))
        .agg(sum("y").as("d1"), sum(lit(1L) - col("y")).as("d0"))
        .select(round((log(col("d1").cast("double")) -
          log(col("d0").cast("double"))) * 1000).cast("long").as("prior_milli"))
      val scored = toks.filter(!col("train"))
        .join(model, Seq("token"), "left")
        .crossJoin(broadcast(oov))
        .groupBy("doc_id", "y")
        .agg(sum(coalesce(col("lo_milli"), col("oov_milli"))).as("tok_milli"))
        .crossJoin(broadcast(prior))
        .select(col("y").as("actual"),
          when(col("prior_milli") + col("tok_milli") > 0, 1L).otherwise(0L)
            .as("pred"))
      val cells = scored.groupBy("pred", "actual").agg(count(lit(1L)).as("n"))
      val summary = cells
        .agg(sum("n").as("nt"),
          sum(when(col("pred") === col("actual"), col("n")).otherwise(0L))
            .as("nc"))
        .select(lit(-1L).as("pred"), lit(-1L).as("actual"),
          expr("nc * 1000000 div nt").as("n"))
      cells.unionByName(summary).orderBy("pred", "actual")
    },
    Some("""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     ((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS
                       VARCHAR)), 1, 1))-1)*4096
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS
                       VARCHAR)), 2, 1))-1)*256
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS
                       VARCHAR)), 3, 1))-1)*16
                      + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS
                       VARCHAR)), 4, 1))-1)) % 100 < 80 AS train
              FROM documents),
            toks AS (
              SELECT doc_id, y, train, unnest(toks) AS token FROM docs),
            counts AS (
              SELECT token, CAST(sum(y) AS BIGINT) AS c1,
                     CAST(sum(1 - y) AS BIGINT) AS c0
              FROM toks WHERE train GROUP BY token),
            tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t1,
                           CAST(sum(c0) AS BIGINT) AS t0,
                           CAST(count(*) AS BIGINT) AS vv
                    FROM counts),
            model AS (
              SELECT token,
                     CAST(round((ln(CAST(c1 + 1 AS DOUBLE)
                         / CAST(t1 + vv AS DOUBLE))
                       - ln(CAST(c0 + 1 AS DOUBLE)
                         / CAST(t0 + vv AS DOUBLE))) * 1000) AS BIGINT)
                       AS lo_milli
              FROM counts, tot),
            oov AS (
              SELECT CAST(round((ln(1.0 / CAST(t1 + vv AS DOUBLE))
                - ln(1.0 / CAST(t0 + vv AS DOUBLE))) * 1000) AS BIGINT)
                  AS oov_milli
              FROM tot),
            prior AS (
              SELECT CAST(round((ln(CAST(sum(y) AS DOUBLE))
                - ln(CAST(sum(1 - y) AS DOUBLE))) * 1000) AS BIGINT)
                  AS prior_milli
              FROM docs WHERE train),
            scored AS (
              SELECT t.doc_id, t.y AS actual,
                     CASE WHEN p.prior_milli
                       + sum(coalesce(m.lo_milli, o.oov_milli)) > 0
                       THEN 1 ELSE 0 END AS pred
              FROM toks t LEFT JOIN model m ON m.token = t.token
              CROSS JOIN oov o CROSS JOIN prior p
              WHERE NOT t.train
              GROUP BY t.doc_id, t.y, p.prior_milli),
            cells AS (
              SELECT CAST(pred AS BIGINT) AS pred,
                     CAST(actual AS BIGINT) AS actual,
                     CAST(count(*) AS BIGINT) AS n
              FROM scored GROUP BY 1, 2),
            summary AS (
              SELECT CAST(-1 AS BIGINT) AS pred, CAST(-1 AS BIGINT) AS actual,
                     CAST(sum(CASE WHEN pred = actual THEN n ELSE 0 END)
                       * 1000000 // sum(n) AS BIGINT) AS n
              FROM cells)
            SELECT pred, actual, n FROM cells
            UNION ALL SELECT pred, actual, n FROM summary
            ORDER BY pred, actual"""))

  // ------------------------------------------- RAKE keyword extraction --

  /** RAKE (Rapid Automatic Keyword Extraction, Rose et al. 2010) over the
    * corpus: candidate phrases are maximal stopword-free token runs (the
    * corpus stop set {a, the}), capped at 4 tokens (longer runs are
    * boilerplate, not keywords — the cap standard implementations apply);
    * per word, freq = #phrase slots and degree = Σ length of the phrases it
    * appears in; word score = degree·10⁶ div freq (micro ints — the
    * degree/freq ratio favors words that travel in long phrases); phrase
    * score = Σ member word scores. Emits the top-20 distinct phrases by
    * (score, phrase) with occurrence counts — the no-model keyword surface
    * next to tf-idf (corpus-statistical) and bm25 (query-relative).
    *
    * Scale: phrase extraction is one per-doc-partitioned window (sum of
    * stop flags numbers the islands — bounded by doc length, never
    * corpus-wide); word stats and phrase scores are map-side-combinable
    * string-key aggs; top-20 is TakeOrdered. No step is super-linear.
    */
  private val qTextRake = GQuery(
    (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
        .withColumnRenamed("pos", "p").withColumnRenamed("col", "tok")
        .withColumn("stop", col("tok").isin("a", "the").cast("long"))
      val wGrp = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val phrases = toks.withColumn("grp", sum("stop").over(wGrp))
        .filter(col("stop") === 0L)
        .groupBy("doc_id", "grp")
        .agg(array_join(transform(sort_array(collect_list(
            struct(col("p"), col("tok")))), r => r.getField("tok")), " ")
          .as("phrase"),
          count(lit(1L)).as("plen"))
        .filter(col("plen") <= 4)
        .select(col("phrase"), col("plen"))
      val words = phrases
        .select(col("plen"), explode(split(col("phrase"), " ")).as("w"))
        .groupBy("w")
        .agg(count(lit(1L)).as("freq"), sum("plen").as("deg"))
        .select(col("w"), expr("deg * 1000000 div freq").as("wscore"))
      val scored = phrases.groupBy("phrase")
        .agg(count(lit(1L)).as("n"), min("plen").as("plen"))
        .select(col("phrase"), col("n"), col("plen"),
          explode(split(col("phrase"), " ")).as("w"))
        .join(words, "w")
        .groupBy("phrase", "n", "plen")
        .agg(sum("wscore").as("score_micro"))
      scored.orderBy(col("score_micro").desc, col("phrase").asc).limit(20)
        .select(col("phrase"), col("n"), col("plen"), col("score_micro"))
        .orderBy(col("score_micro").desc, col("phrase").asc)
    },
    Some("""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            toks AS (
              SELECT doc_id,
                     CAST(unnest(generate_series(1, len(toks))) AS INT) AS p,
                     unnest(toks) AS tok
              FROM docs),
            flags AS (
              SELECT doc_id, p, tok,
                     CASE WHEN tok IN ('a', 'the') THEN 1 ELSE 0 END AS stop
              FROM toks),
            grps AS (
              SELECT doc_id, tok, p, stop,
                     sum(stop) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS grp
              FROM flags),
            phrases AS (
              SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY p) AS phrase,
                     CAST(count(*) AS BIGINT) AS plen
              FROM grps WHERE stop = 0
              GROUP BY doc_id, grp
              HAVING count(*) <= 4),
            pw AS (
              SELECT plen, unnest(string_split(phrase, ' ')) AS w
              FROM phrases),
            words AS (
              SELECT w, CAST((sum(plen) * 1000000) // count(*) AS BIGINT)
                       AS wscore
              FROM pw GROUP BY w),
            dist AS (
              SELECT phrase, CAST(count(*) AS BIGINT) AS n,
                     CAST(min(plen) AS BIGINT) AS plen
              FROM phrases GROUP BY phrase),
            dw AS (
              SELECT phrase, n, plen,
                     unnest(string_split(phrase, ' ')) AS w
              FROM dist),
            scored AS (
              SELECT dw.phrase, dw.n, dw.plen,
                     CAST(sum(words.wscore) AS BIGINT) AS score_micro
              FROM dw JOIN words ON words.w = dw.w
              GROUP BY dw.phrase, dw.n, dw.plen)
            SELECT phrase, n, plen, score_micro
            FROM scored
            ORDER BY score_micro DESC, phrase ASC LIMIT 20"""))

  // ---------------------------------- positional phrase / proximity search --

  /** Positional-index phrase search — the search-engine operator BM25 (bag
    * of words) cannot express: the corpus's top-3 trigram phrases (count
    * desc, phrase asc — data-derived probes, no magic strings) are matched
    * EXACTLY via the positional token index (adjacent-position equi-joins),
    * and contrasted with proximity semantics (first+last phrase words
    * co-occurring within ±4 positions in any order) — the phrase/NEAR gap
    * every query-DSL exposes. Emits per phrase: exact occurrences, exact
    * matching docs, and proximity-matching docs (⊇ phrase docs by
    * construction).
    *
    * Scale: trigram extraction is one linear pass over materialized token
    * arrays (HOF-capture rule; sequence guarded for <3-token docs — Spark
    * sequence counts DOWN); the probe joins key on (word, doc) so per-doc
    * candidate lists are bounded by doc length; phrase table tiny (3 rows,
    * broadcast). A real index would partition postings by term — same
    * shape.
    */
  private val qTextPhrase = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val tris = docs
        .select(col("doc_id"),
          explode(when(size(col("toks")) >= 3,
            expr("""transform(sequence(1, size(toks) - 2),
                      i -> concat_ws(' ', element_at(toks, i),
                             element_at(toks, i + 1),
                             element_at(toks, i + 2)))"""))
            .otherwise(array().cast("array<string>"))).as("tri"))
      val top3 = tris.groupBy("tri").agg(count(lit(1L)).as("n_occur"),
          countDistinct("doc_id").as("n_docs"))
        .orderBy(col("n_occur").desc, col("tri").asc).limit(3)
        .select(col("tri").as("phrase"), col("n_occur"), col("n_docs"),
          element_at(split(col("tri"), " "), 1).as("w1"),
          element_at(split(col("tri"), " "), 3).as("w3"))
        // 3-row table with 3 consumers — unmaterialized, the whole trigram
        // agg replayed per consumer (5 documents scans in the plan)
        .localCheckpoint(true)
      val toks = docs
        .select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), col("pos").as("p"), col("col").as("tok"))
      // both word roles matched in ONE pass over the token stream (the a/b
      // split used to evaluate the corpus posexplode once per role)
      val words = top3.select(col("phrase"), lit(1).as("role"),
          col("w1").as("w"))
        .unionByName(top3.select(col("phrase"), lit(3).as("role"),
          col("w3").as("w")))
      val matched = toks.join(broadcast(words), col("tok") === col("w"))
        .select(col("phrase"), col("role"), col("doc_id"), col("p"))
      // NEAR evaluated per (phrase, doc) on aggregated position arrays —
      // the r12 shape materialized every matched token position
      // (localCheckpoint) and positionally self-joined it, which measured
      // SLOWER in-bench than the r11 two-scan form (builder floor
      // 1.46→1.62 s, driver 1.38→1.76; VERDICT r12 §wrong #1). The single
      // matched pass now collapses straight into per-doc role position
      // lists (bounded by doc length) and the pair predicate runs as an
      // `exists` over those ARRAY COLUMNS (real aggregated attributes —
      // the HOF-capture rule is satisfied without any checkpoint), so the
      // plan keeps one documents scan, no materialization job, and no
      // position×position join blowup.
      // pa != pb: NEAR requires two DISTINCT token positions — a probe
      // trigram whose first and last words coincide ("x y x") would
      // otherwise count every doc containing that one word as a proximity
      // match, inflating n_prox_docs
      val prox = matched
        .groupBy("phrase", "doc_id")
        .agg(collect_list(when(col("role") === 1, col("p"))).as("pas"),
          collect_list(when(col("role") === 3, col("p"))).as("pbs"))
        .filter(expr(
          "exists(pas, pa -> exists(pbs, pb -> pa != pb AND abs(pa - pb) <= 4))"))
        .groupBy("phrase").agg(count(lit(1L)).as("n_prox_docs"))
      top3.join(prox, "phrase")
        .select(col("phrase"), col("n_occur"), col("n_docs"),
          col("n_prox_docs"))
        .orderBy("phrase")
    },
    Some("""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            tri0 AS (
              SELECT doc_id, toks,
                     CAST(unnest(generate_series(1, len(toks) - 2)) AS INT)
                       AS i
              FROM docs WHERE len(toks) >= 3),
            tris AS (
              SELECT doc_id,
                     toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                       AS tri
              FROM tri0),
            top3 AS (
              SELECT tri AS phrase, CAST(count(*) AS BIGINT) AS n_occur,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                     string_split(tri, ' ')[1] AS w1,
                     string_split(tri, ' ')[3] AS w3
              FROM tris GROUP BY tri
              ORDER BY n_occur DESC, tri ASC LIMIT 3),
            toks AS (
              SELECT doc_id,
                     CAST(unnest(generate_series(1, len(toks))) AS INT) AS p,
                     unnest(toks) AS tok
              FROM docs),
            a AS (
              SELECT t3.phrase, tk.doc_id, tk.p AS pa
              FROM toks tk JOIN top3 t3 ON tk.tok = t3.w1),
            b AS (
              SELECT t3.phrase AS phrase2, tk.doc_id AS doc_b, tk.p AS pb
              FROM toks tk JOIN top3 t3 ON tk.tok = t3.w3),
            prox AS (
              SELECT a.phrase,
                     CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_prox_docs
              FROM a JOIN b ON a.phrase = b.phrase2 AND a.doc_id = b.doc_b
                AND a.pa <> b.pb AND abs(a.pa - b.pb) <= 4
              GROUP BY a.phrase)
            SELECT t.phrase, t.n_occur, t.n_docs, p.n_prox_docs
            FROM top3 t JOIN prox p ON p.phrase = t.phrase
            ORDER BY t.phrase"""))

  // --------------------------------------------- PMI collocation mining --

  /** Pointwise mutual information of adjacent token pairs — the collocation
    * detector (Church & Hanks 1990) next to raw bigram counts
    * (q_vocab_bigrams ranks by frequency; PMI ranks by ASSOCIATION, surfacing
    * pairs that co-occur far above chance even when rare): over the joint
    * bigram table, pmi = ln(c_ab·N / (c_a·c_b)) with marginals re-aggregated
    * FROM the joint (the q_stats_mi discipline — one corpus pass, self-
    * consistent probabilities), quantized once per pair to milli-nats from
    * identical exact integers; support floor c_ab ≥ 20 kills the
    * rare-pair PMI explosion (the classic failure mode). Top-20 by
    * (pmi, w1, w2).
    *
    * Scale: one pair agg (linear in tokens, map-side-combined) + two
    * marginal re-aggs of the VOCAB²-bounded joint table + a 1-row broadcast;
    * the double products inside ln stay exact below 2⁵³ (corpus ≪ 9·10¹⁵
    * bigrams — widen to two-step ln arithmetic past that).
    */
  /** Heaps'-law vocabulary growth (V(n) ≈ K·n^β) — the scaling twin of
    * q_vocab_zipf (Zipf: rank-frequency within a snapshot; Heaps: how the
    * TYPE inventory grows as the corpus does — the estimate that sizes a
    * tokenizer vocab or a dictionary shard for 100× more data). Types are
    * word TRIGRAMS (this synthetic corpus's unigram vocabulary is closed
    * at 31 words and saturates in the first decile — the 3-gram inventory
    * is the one still growing, exactly the n-gram-LM / shingle-index
    * sizing question): a 10-point growth ladder at doc-count deciles,
    * where V(t) comes from each trigram's FIRST document (one min-agg —
    * never a running distinct) and n(t) from cumulative trigram-instance
    * counts; β is fit by log-log OLS with
    * logs quantized ONCE to integer milli-nats and the OLS run entirely
    * in integer arithmetic (β_micro = (10Σxy − ΣxΣy)·10⁶ div
    * (10Σx² − (Σx)²)) — hash-exact, no fp summation order anywhere.
    * Ladder rows carry (n_tokens, vocab); the summary row (k = −1)
    * carries β_micro and the ln-intercept in milli-nats.
    *
    * Scale: one word→min(doc) agg + one doc→token-count agg; the ladder
    * is 10 broadcast thresholds against the vocab-sized first-doc table.
    */
  private val qTextHeaps = GQuery(
    (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("ts"))
        .filter(size(col("ts")) >= 3)
      val toks = base
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ts) - 2),
               i -> concat_ws(' ', slice(ts, i, 3)))""")).as("w"))
      val firstDoc = toks.groupBy("w").agg(min("doc_id").as("fd"))
      // collapse the vocab-sized first-doc table to ≤ #docs rows BEFORE the
      // 10-threshold ladder fan (the fan then touches 10·#docs rows, not
      // 10·|trigram vocab|); Σ nw over fd < thr ≡ the original row count
      val fdc = firstDoc.groupBy("fd").agg(count(lit(1L)).as("nw"))
      // trigrams per doc ARE size(ts) − 2 — no second corpus explode
      val docTok = base
        .select(col("doc_id"), (size(col("ts")) - 2).cast("long").as("nt"))
      val mx = t(s, d, "documents")
        .agg(max("doc_id").as("mid")).withColumn("j", lit(1))
      val ladder = mx.select(explode(sequence(lit(1), lit(10))).as("k"),
          col("mid"))
        .withColumn("thr", expr("(mid + 1) * k div 10"))
        .withColumn("j", lit(1))
      val pts = ladder
        .join(fdc.withColumn("j", lit(1)), "j")
        .groupBy("k", "thr")
        .agg(sum(when(col("fd") < col("thr"), col("nw")).otherwise(0L))
          .as("vocab"))
        .join(ladder.join(docTok.withColumn("j", lit(1)), "j")
          .groupBy("k").agg(sum(when(col("doc_id") < col("thr"), col("nt"))
            .otherwise(0L)).as("n_tokens")), "k")
        .withColumn("x", round(log(col("n_tokens").cast("double")) * 1000)
          .cast("long"))
        .withColumn("y", round(log(col("vocab").cast("double")) * 1000)
          .cast("long"))
        .localCheckpoint(true) // feeds the ladder rows AND the OLS agg
      val fit = pts.agg(count(lit(1L)).as("m"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .withColumn("beta_micro", expr(
          "(m * sxy - sx * sy) * 1000000 div (m * sxx - sx * sx)"))
        .select(lit(-1).cast("int").as("k"), lit(null).cast("long")
            .as("n_tokens"), lit(null).cast("long").as("vocab"),
          col("beta_micro"),
          expr("(sy - (beta_micro * sx div 1000000)) div m").as("lna_milli"))
      pts.select(col("k").cast("int").as("k"), col("n_tokens"), col("vocab"),
          lit(null).cast("long").as("beta_micro"),
          lit(null).cast("long").as("lna_milli"))
        .unionByName(fit)
        .orderBy("k")
    },
    Some("""WITH tk AS (
              SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS w
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS ts
                    FROM documents
                    WHERE len(string_split(lower(text), ' ')) >= 3) t,
                   LATERAL (SELECT unnest(generate_series(1, len(ts) - 2))
                     AS i) ii),
            firstdoc AS (SELECT w, min(doc_id) AS fd FROM tk GROUP BY 1),
            doctok AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt
                       FROM tk GROUP BY 1),
            mx AS (SELECT max(doc_id) AS mid FROM documents),
            ladder AS (
              SELECT k, (mid + 1) * k // 10 AS thr
              FROM mx, (SELECT unnest(generate_series(1, 10)) AS k) kk),
            pts AS (
              SELECT l.k, l.thr,
                     (SELECT CAST(sum(CASE WHEN f.fd < l.thr THEN 1 ELSE 0
                        END) AS BIGINT) FROM firstdoc f) AS vocab,
                     (SELECT CAST(sum(CASE WHEN dt.doc_id < l.thr THEN dt.nt
                        ELSE 0 END) AS BIGINT) FROM doctok dt) AS n_tokens
              FROM ladder l),
            pxy AS (
              SELECT k, thr, vocab, n_tokens,
                     CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000)
                       AS BIGINT) AS x,
                     CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000)
                       AS BIGINT) AS y
              FROM pts),
            fit AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx
              FROM pxy)
            SELECT CAST(k AS INT) AS k, n_tokens, vocab,
                   CAST(NULL AS BIGINT) AS beta_micro,
                   CAST(NULL AS BIGINT) AS lna_milli
            FROM pxy
            UNION ALL
            SELECT CAST(-1 AS INT), NULL, NULL,
                   (m * sxy - sx * sy) * 1000000 // (m * sxx - sx * sx),
                   (sy - (((m * sxy - sx * sy) * 1000000
                           // (m * sxx - sx * sx)) * sx // 1000000)) // m
            FROM fit
            ORDER BY k"""))

  /** Burrows' Delta stylometry (Burrows 2002) — source-attribution by
    * FUNCTION-WORD profile: each source's per-word relative frequency
    * (exact ppm) is standardized against the cross-source distribution of
    * that word, and Delta(a, b) = mean |z_a − z_b| over the shared
    * vocabulary — the classic authorship distance (content words vary by
    * topic; function-word RATES are a stylistic fingerprint). z-scores
    * are drounded and quantized ONCE to integer milli (the elasticity
    * rule), so every pairwise sum is exact integer arithmetic — no fp
    * summation order in the pair agg. Emits the 10 most similar source
    * pairs (delta_milli asc, pair tie-break): the re-crawl / same-origin
    * candidates a provenance audit reviews.
    *
    * Scale: one (source, word) count agg; the z table is
    * |sources|×|vocab| (metadata-sized — vocab is the top function
    * words, a constant); the pair join is |sources|² on that grid.
    */
  private val qTextStylometry = GQuery(
    (s, d) => {
      val tf = t(s, d, "documents")
        .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("source", "w").agg(count(lit(1L)).as("c"))
      val tot = tf.groupBy("source").agg(sum("c").as("tot"))
      val freq = tf.join(tot, "source")
        .select(col("source"), col("w"),
          expr("c * 1000000 div tot").as("f"))
      val stats = freq.groupBy("w").agg(
          count(lit(1L)).as("k"),
          sum("f").as("sf"),
          sum(col("f").cast("decimal(38,0)") * col("f")).as("sff"))
        .withColumn("sig", expr(
          """sqrt(CAST(k * sff - CAST(sf AS DECIMAL(38,0)) * sf AS DOUBLE))
             / CAST(k AS DOUBLE)"""))
        .filter(col("sig") > 0.0)
      val z = freq.join(broadcast(stats), "w")
        .select(col("source"), col("w"),
          floor(dround((col("f").cast("double") -
            expr("CAST(sf AS DOUBLE) / CAST(k AS DOUBLE)")) / col("sig"), 6)
            * 1000 + 0.5).cast("long").as("z_milli"))
      val a = z.select(col("source").as("src_a"), col("w"),
        col("z_milli").as("za"))
      val b = z.select(col("source").as("src_b"), col("w"),
        col("z_milli").as("zb"))
      a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1L)).as("n_words"),
          expr("sum(abs(za - zb)) div count(1)").as("delta_milli"))
        .orderBy(col("delta_milli").asc, col("src_a").asc, col("src_b").asc)
        .limit(10)
        .orderBy(col("delta_milli").asc, col("src_a").asc, col("src_b").asc)
    },
    Some("""WITH tf AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT source,
                      unnest(string_split(lower(text), ' ')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY 1, 2),
            tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
                    FROM tf GROUP BY 1),
            freq AS (
              SELECT tf.source, tf.w,
                     CAST(tf.c * 1000000 // t.tot AS BIGINT) AS f
              FROM tf JOIN tot t USING (source)),
            stats AS (
              SELECT w, CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(f) AS BIGINT) AS sf,
                     sum(CAST(f AS HUGEINT) * f) AS sff
              FROM freq GROUP BY 1),
            st2 AS (
              SELECT w, k, sf,
                     sqrt(CAST(k * sff - CAST(sf AS HUGEINT) * sf AS DOUBLE))
                       / CAST(k AS DOUBLE) AS sig
              FROM stats),
            z AS (
              SELECT f.source, f.w,
                     CAST(floor(CAST(round(CAST(
                       (CAST(f.f AS DOUBLE)
                        - CAST(s.sf AS DOUBLE) / CAST(s.k AS DOUBLE)) / s.sig
                       AS DECIMAL(30,8)), 6) AS DOUBLE) * 1000 + 0.5)
                       AS BIGINT) AS z_milli
              FROM freq f JOIN st2 s USING (w) WHERE s.sig > 0.0)
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(abs(a.z_milli - b.z_milli)) // count(*)
                     AS BIGINT) AS delta_milli
            FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
            GROUP BY 1, 2
            ORDER BY delta_milli ASC, src_a ASC, src_b ASC LIMIT 10"""))

  /** Word BURSTINESS (Church & Gale 1995): the Fano factor
    * (variance-to-mean ratio of per-document counts, zero-docs included)
    * of each frequent word — the dispersion signal frequency alone hides:
    * function words spread evenly (Fano ≈ 1, Poisson-like) while topical
    * and template words BURST (a few documents contain most occurrences
    * — Fano ≫ 1), which is both a keyword signal and a template-spam
    * smell q_text_repetition sees only within one document. EXACT
    * integers end-to-end: fano_ppm = (N·Σc² − S²)·10⁶ div (N·S) over
    * per-doc counts c (S = Σc, N = |docs| — absent docs contribute c = 0
    * to both moments for free). Top-20 among words with S ≥ 50, ranked
    * (fano desc, word asc).
    *
    * Scale: one (word, doc) count agg (map-combinable off the token
    * explode) → one per-word moment agg; N is a 1-row broadcast; ranking
    * is TakeOrdered over the vocab-sized table.
    */
  private val qTextBurstiness = GQuery(
    (s, d) => {
      val perDoc = t(s, d, "documents")
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w", "doc_id").agg(count(lit(1L)).as("c"))
      val nDocs = t(s, d, "documents")
        .agg(count(lit(1L)).as("nd")).withColumn("j", lit(1))
      perDoc.groupBy("w")
        .agg(sum("c").as("s1"), sum(col("c") * col("c")).as("s2"),
          count(lit(1L)).as("n_docs_with"))
        .filter(col("s1") >= 50)
        .withColumn("j", lit(1)).join(broadcast(nDocs), "j")
        .select(col("w"), col("s1").as("n_occ"), col("n_docs_with"),
          expr("(nd * s2 - s1 * s1) * 1000000 div (nd * s1)").as("fano_ppm"))
        .orderBy(col("fano_ppm").desc, col("w").asc)
        .limit(20)
        .orderBy(col("fano_ppm").desc, col("w").asc)
    },
    Some("""WITH perdoc AS (
              SELECT w, doc_id, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT doc_id,
                      unnest(string_split(lower(text), ' ')) AS w
                    FROM documents)
              WHERE w <> '' GROUP BY 1, 2),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
            mom AS (
              SELECT w, CAST(sum(c) AS BIGINT) AS s1,
                     CAST(sum(c * c) AS BIGINT) AS s2,
                     CAST(count(*) AS BIGINT) AS n_docs_with
              FROM perdoc GROUP BY 1)
            SELECT w, s1 AS n_occ, n_docs_with,
                   CAST((nd.nd * s2 - s1 * s1) * 1000000 // (nd.nd * s1)
                     AS BIGINT) AS fano_ppm
            FROM mom, nd
            WHERE s1 >= 50
            ORDER BY fano_ppm DESC, w ASC LIMIT 20"""))

  /** Dunning log-likelihood-ratio collocations (Dunning 1993) — the
    * statistically sound upgrade of q_vocab_pmi (PMI explodes on rare
    * pairs and needs an arbitrary count floor; LLR's G² weights evidence
    * by VOLUME, so it needs no floor and its ranking is comparable across
    * frequencies): per adjacent bigram the full 2×2 contingency
    * (k11 = pair, k12/k21 = marginals minus pair, k22 = rest),
    * G² = 2·Σ kᵢⱼ·ln(kᵢⱼN/RᵢCⱼ) over nonzero cells, summed in a FIXED
    * parenthesized order and rounded once to milli (identical doubles →
    * identical longs → hash-stable top-20).
    *
    * Scale: q_vocab_pmi economics exactly — one pair agg (linear in
    * tokens), two vocab-sized marginal aggs joined back, a 1-row total
    * broadcast, TakeOrdered top-20.
    */
  private val qTextCollocations = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(explode(when(size(col("toks")) >= 2,
          expr("""transform(sequence(1, size(toks) - 1),
                    i -> named_struct('w1', element_at(toks, i),
                                      'w2', element_at(toks, i + 1)))"""))
          .otherwise(expr(
            "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)")))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // distinct-bigram grid, materialized ONCE: four consumers (both
      // marginals, the total, the join) — without the barrier the corpus
      // explode+agg re-runs per consumer (r9 bench fix; the KN query below
      // always had this barrier)
      val joint = pairs.groupBy("w1", "w2").agg(count(lit(1L)).as("cab"))
        .localCheckpoint(true)
      val left = joint.groupBy("w1").agg(sum("cab").as("ca"))
      val right = joint.groupBy("w2").agg(sum("cab").as("cb"))
      val tot = joint.agg(sum("cab").as("n"))
      def xlx(k: String, r: String, c: String) =
        s"""IF($k > 0, CAST($k AS DOUBLE) * ln(CAST($k AS DOUBLE)
            * CAST(n AS DOUBLE) / (CAST($r AS DOUBLE) * CAST($c AS DOUBLE))),
            0.0D)"""
      joint.join(left, "w1").join(right, "w2").crossJoin(broadcast(tot))
        .withColumn("k12", col("ca") - col("cab"))
        .withColumn("k21", col("cb") - col("cab"))
        .withColumn("k22", col("n") - col("ca") - col("cb") + col("cab"))
        .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
          round(expr(
            s"""2.0D * (((${xlx("cab", "ca", "cb")}
                 + ${xlx("k12", "ca", "n - cb")})
                 + ${xlx("k21", "n - ca", "cb")})
                 + ${xlx("k22", "n - ca", "n - cb")})""") * 1000)
            .cast("long").as("llr_milli"))
        .orderBy(col("llr_milli").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .orderBy(col("llr_milli").desc, col("w1").asc, col("w2").asc)
    },
    Some {
      def xlx(k: String, r: String, c: String) =
        s"""CASE WHEN $k > 0 THEN CAST($k AS DOUBLE)
            * ln(CAST($k AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST($r AS DOUBLE) * CAST($c AS DOUBLE)))
            ELSE 0.0 END"""
      s"""WITH docs AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents),
            pairs AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT toks,
                      CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                        AS i
                    FROM docs WHERE len(toks) >= 2)),
            joint AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
              FROM pairs GROUP BY 1, 2),
            lft AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca
                    FROM joint GROUP BY 1),
            rgt AS (SELECT w2, CAST(sum(cab) AS BIGINT) AS cb
                    FROM joint GROUP BY 1),
            tot AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM joint),
            cells AS (
              SELECT j.w1, j.w2, j.cab, l.ca, r.cb, t.n,
                     l.ca - j.cab AS k12, r.cb - j.cab AS k21,
                     t.n - l.ca - r.cb + j.cab AS k22
              FROM joint j JOIN lft l USING (w1) JOIN rgt r USING (w2),
                   tot t)
            SELECT w1, w2, cab, ca, cb,
                   CAST(round(2.0 * (((${xlx("cab", "ca", "cb")}
                     + ${xlx("k12", "ca", "n - cb")})
                     + ${xlx("k21", "n - ca", "cb")})
                     + ${xlx("k22", "n - ca", "n - cb")}) * 1000)
                     AS BIGINT) AS llr_milli
            FROM cells
            ORDER BY llr_milli DESC, w1 ASC, w2 ASC LIMIT 20"""
    })

  private val qVocabPmi = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(explode(when(size(col("toks")) >= 2,
          expr("""transform(sequence(1, size(toks) - 1),
                    i -> named_struct('w1', element_at(toks, i),
                                      'w2', element_at(toks, i + 1)))"""))
          .otherwise(expr("CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)")))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      // distinct-bigram grid, materialized ONCE: four consumers (both
      // marginals, the total, the join) — without the barrier the corpus
      // explode+agg re-runs per consumer (r9 bench fix; the KN query below
      // always had this barrier)
      val joint = pairs.groupBy("w1", "w2").agg(count(lit(1L)).as("cab"))
        .localCheckpoint(true)
      val left = joint.groupBy("w1").agg(sum("cab").as("ca"))
      val right = joint.groupBy("w2").agg(sum("cab").as("cb"))
      val tot = joint.agg(sum("cab").as("n"))
      joint.join(left, "w1").join(right, "w2").crossJoin(broadcast(tot))
        .filter(col("cab") >= 20)
        .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
          round(log(col("cab").cast("double") * col("n").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double"))) * 1000)
            .cast("long").as("pmi_mnat"))
        .orderBy(col("pmi_mnat").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .orderBy(col("pmi_mnat").desc, col("w1").asc, col("w2").asc)
    },
    Some("""WITH docs AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents),
            pairs AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT toks,
                      CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                        AS i
                    FROM docs WHERE len(toks) >= 2)),
            joint AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
              FROM pairs GROUP BY 1, 2),
            lft AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca
                    FROM joint GROUP BY 1),
            rgt AS (SELECT w2, CAST(sum(cab) AS BIGINT) AS cb
                    FROM joint GROUP BY 1),
            tot AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM joint)
            SELECT j.w1, j.w2, j.cab, l.ca, r.cb,
                   CAST(round(ln(CAST(j.cab AS DOUBLE) * CAST(t.n AS DOUBLE)
                     / (CAST(l.ca AS DOUBLE) * CAST(r.cb AS DOUBLE))) * 1000)
                     AS BIGINT) AS pmi_mnat
            FROM joint j
            JOIN lft l ON l.w1 = j.w1
            JOIN rgt r ON r.w2 = j.w2
            CROSS JOIN tot t
            WHERE j.cab >= 20
            ORDER BY pmi_mnat DESC, j.w1 ASC, j.w2 ASC LIMIT 20"""))

  // ------------------------------------------- skip-gram window PPMI --

  /** Positive PMI over a ±2 skip-gram window (Church & Hanks 1990 PMI on
    * the word2vec-era window counts; Levy & Goldberg 2014 showed SGNS
    * factorizes exactly this matrix — public): q_vocab_pmi scores ADJACENT
    * bigrams (phrase detection), this scores words that merely co-occur
    * within distance 2 (semantic association — the distributional signal
    * an embedding trainer consumes). Forward pairs (w_i, w_j), j − i ≤ 2,
    * counted ordered; marginals and total derive from the SAME joint grid
    * (one corpus explode, grid checkpointed — the pmi barrier);
    * PPMI = max(0, ln(c_ab·N / c_a·c_b)) in milli-nats, count floor 20,
    * top-20 by (ppmi, w1, w2).
    *
    * Scale: the explode is 2× the token stream (window width bounds the
    * fan-out), then vocab²-bounded grids; the same economics as pmi with
    * one extra offset column. At trainer scale the joint grid IS the
    * co-occurrence matrix shard — this query is its exactness gauge.
    */
  private val qVocabSkipgram = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
      val pairs = docs
        .select(explode(expr(
          """flatten(transform(sequence(1, size(toks) - 1),
               i -> transform(sequence(i + 1, least(i + 2, size(toks))),
                 j -> named_struct('w1', element_at(toks, i),
                                   'w2', element_at(toks, j)))))"""))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val joint = pairs.groupBy("w1", "w2").agg(count(lit(1L)).as("cab"))
        .localCheckpoint(true) // vocab²-grid; feeds marginals + total + join
      val left = joint.groupBy("w1").agg(sum("cab").as("ca"))
      val right = joint.groupBy("w2").agg(sum("cab").as("cb"))
      val tot = joint.agg(sum("cab").as("n"))
      joint.join(left, "w1").join(right, "w2").crossJoin(broadcast(tot))
        .filter(col("cab") >= 20)
        .select(col("w1"), col("w2"), col("cab"), col("ca"), col("cb"),
          greatest(lit(0L),
            round(log(col("cab").cast("double") * col("n").cast("double") /
              (col("ca").cast("double") * col("cb").cast("double"))) * 1000)
              .cast("long")).as("ppmi_mnat"))
        .orderBy(col("ppmi_mnat").desc, col("w1").asc, col("w2").asc)
        .limit(20)
        .orderBy(col("ppmi_mnat").desc, col("w1").asc, col("w2").asc)
    },
    Some("""WITH docs AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents
              WHERE len(string_split(lower(text), ' ')) >= 2),
            pos AS (
              SELECT toks, len(toks) AS L,
                     CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                       AS i
              FROM docs),
            pairs AS (
              SELECT toks[i] AS w1, toks[i + o] AS w2
              FROM pos, (SELECT unnest([1, 2]) AS o)
              WHERE i + o <= L),
            joint AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
              FROM pairs GROUP BY 1, 2),
            lft AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca
                    FROM joint GROUP BY 1),
            rgt AS (SELECT w2, CAST(sum(cab) AS BIGINT) AS cb
                    FROM joint GROUP BY 1),
            tot AS (SELECT CAST(sum(cab) AS BIGINT) AS n FROM joint)
            SELECT j.w1, j.w2, j.cab, l.ca, r.cb,
                   greatest(0, CAST(round(ln(CAST(j.cab AS DOUBLE)
                     * CAST(t.n AS DOUBLE)
                     / (CAST(l.ca AS DOUBLE) * CAST(r.cb AS DOUBLE))) * 1000)
                     AS BIGINT)) AS ppmi_mnat
            FROM joint j
            JOIN lft l ON l.w1 = j.w1
            JOIN rgt r ON r.w2 = j.w2
            CROSS JOIN tot t
            WHERE j.cab >= 20
            ORDER BY ppmi_mnat DESC, j.w1 ASC, j.w2 ASC LIMIT 20"""))

  // ------------------------------------- Kneser-Ney smoothed bigram LM --

  /** Interpolated Kneser–Ney smoothing — the n-gram LM standard (Kneser &
    * Ney 1995; the upgrade over q_text_lm_score's raw conditionals and
    * q_text_rarity's unigram fit): P(w2|w1) = max(c−d,0)/c(w1) +
    * λ(w1)·P_cont(w2), with the CONTINUATION probability (how many
    * contexts a word follows — why "francisco" scores low despite high
    * frequency) instead of raw unigram backoff. d = 3/4 keeps every term an
    * exact rational in quarter-units: term1 = max(4c−3,0)·10⁶ div 4c(w1),
    * λ·P_cont = 3·N1+(w1•)·N1+(•w2)·10⁶ div (4·c(w1)·N1+(••)) — pure
    * integer ppm, no fp anywhere. Emits the full smoothed distribution
    * evidence for the corpus's top context word: top-10 continuations with
    * the ML/discounted/backoff decomposition, plus a '__total' mass row
    * (Σ over the continuation vocab ≈ 10⁶ − truncation dust — the
    * normalization audit).
    *
    * Scale: pair counts are the lm_score economics (linear explode, two
    * partial aggs); the continuation/context tables are vocab-sized; the
    * scored table is |vocab| rows per probed context — a full model
    * materializes O(distinct bigrams) rows and joins (never broadcasts) at
    * 100 TB, exactly like lm_score's model table.
    */
  private val qTextLmKn = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(explode(when(size(col("toks")) >= 2,
          expr("""transform(sequence(1, size(toks) - 1),
                    i -> named_struct('w1', element_at(toks, i),
                                      'w2', element_at(toks, i + 1)))"""))
          .otherwise(expr("CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)")))
          .as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val joint = pairs.groupBy("w1", "w2").agg(count(lit(1L)).as("cab"))
        .localCheckpoint(true)
      val left = joint.groupBy("w1")
        .agg(sum("cab").as("ca"), count(lit(1L)).as("t1"))
      val right = joint.groupBy("w2").agg(count(lit(1L)).as("r"))
      val bTot = joint.agg(count(lit(1L)).as("b"))
      val w1s = left
        .orderBy(col("ca").desc, col("w1").asc).limit(1)
        .select(col("w1").as("pw1"), col("ca"), col("t1"))
      val scored = right.crossJoin(broadcast(w1s))
        .crossJoin(broadcast(bTot))
        .join(joint.select(col("w1").as("pw1"), col("w2"), col("cab")),
          Seq("pw1", "w2"), "left")
        .select(col("w2"), coalesce(col("cab"), lit(0L)).as("cab"),
          expr("coalesce(cab, 0) * 1000000 div ca").as("ml_ppm"),
          expr("greatest(4 * coalesce(cab, 0) - 3, 0) * 1000000 div (4 * ca)")
            .as("disc_ppm"),
          expr("3 * t1 * r * 1000000 div (4 * ca * b)").as("back_ppm"))
        .withColumn("kn_ppm", col("disc_ppm") + col("back_ppm"))
      val top = scored
        .orderBy(col("kn_ppm").desc, col("w2").asc).limit(10)
      val total = scored.agg(sum("cab").as("cab"), sum("ml_ppm").as("ml_ppm"),
          sum("disc_ppm").as("disc_ppm"), sum("back_ppm").as("back_ppm"),
          sum("kn_ppm").as("kn_ppm"))
        .select(lit("__total").as("w2"), col("cab"), col("ml_ppm"),
          col("disc_ppm"), col("back_ppm"), col("kn_ppm"))
      top.unionByName(total)
        .orderBy(col("kn_ppm").desc, col("w2").asc)
    },
    Some("""WITH docs AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents),
            pairs AS (
              SELECT toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT toks,
                      CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                        AS i
                    FROM docs WHERE len(toks) >= 2)),
            joint AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
              FROM pairs GROUP BY 1, 2),
            lft AS (SELECT w1, CAST(sum(cab) AS BIGINT) AS ca,
                           CAST(count(*) AS BIGINT) AS t1
                    FROM joint GROUP BY 1),
            rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS r
                    FROM joint GROUP BY 1),
            btot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM joint),
            w1s AS (SELECT w1 AS pw1, ca, t1 FROM lft
                    ORDER BY ca DESC, w1 ASC LIMIT 1),
            scored AS (
              SELECT rgt.w2, CAST(coalesce(j.cab, 0) AS BIGINT) AS cab,
                     CAST(coalesce(j.cab, 0) * 1000000 // w.ca AS BIGINT)
                       AS ml_ppm,
                     CAST(greatest(4 * coalesce(j.cab, 0) - 3, 0) * 1000000
                       // (4 * w.ca) AS BIGINT) AS disc_ppm,
                     CAST(3 * w.t1 * rgt.r * 1000000 // (4 * w.ca * b.b)
                       AS BIGINT) AS back_ppm
              FROM rgt CROSS JOIN w1s w CROSS JOIN btot b
              LEFT JOIN joint j ON j.w1 = w.pw1 AND j.w2 = rgt.w2),
            sc2 AS (
              SELECT *, CAST(disc_ppm + back_ppm AS BIGINT) AS kn_ppm
              FROM scored),
            top AS (
              SELECT w2, cab, ml_ppm, disc_ppm, back_ppm, kn_ppm
              FROM sc2 ORDER BY kn_ppm DESC, w2 ASC LIMIT 10),
            tot AS (
              SELECT '__total' AS w2, CAST(sum(cab) AS BIGINT) AS cab,
                     CAST(sum(ml_ppm) AS BIGINT) AS ml_ppm,
                     CAST(sum(disc_ppm) AS BIGINT) AS disc_ppm,
                     CAST(sum(back_ppm) AS BIGINT) AS back_ppm,
                     CAST(sum(kn_ppm) AS BIGINT) AS kn_ppm
              FROM sc2)
            SELECT * FROM top UNION ALL SELECT * FROM tot
            ORDER BY kn_ppm DESC, w2 ASC"""))

  // --------------------------------------- compressibility / entropy --

  /** Per-document token-bigram entropy — the compressibility proxy quality
    * filter (templated/boilerplate text compresses well ⇔ low transition
    * entropy; Gopher's repetition rules catch exact repeats, entropy
    * catches STATISTICAL repetitiveness they miss): H(doc) = −Σ (c/T)·
    * ln(c/T) over the doc's bigram distribution, computed with the PSI
    * quantize-then-sum rule — each distinct (doc, bigram) cell contributes
    * c·round(ln(c/T)·1000) milli-nats from identical exact integers, so
    * the per-doc sum is an exact integer sum, order-proof. Emits the 15
    * LOWEST-entropy docs (the removal candidates) with their bigram/token
    * counts, plus a corpus '__mean' row.
    *
    * Scale: linear pair explode + (doc, bigram) combine agg + per-doc
    * re-agg — lm_score economics; the bottom-k is TakeOrdered. The mnat
    * grid bounds cross-engine drift to the quantization step exactly.
    */
  private val qTextCompressibility = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
          expr("""transform(sequence(1, size(toks) - 1),
                    i -> concat(element_at(toks, i), ' ',
                                element_at(toks, i + 1)))"""))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bg"))
      val cells = pairs.groupBy("doc_id", "bg").agg(count(lit(1L)).as("c"))
      val docT = cells.groupBy("doc_id")
        .agg(sum("c").as("tt"), count(lit(1L)).as("n_bigrams"))
      val scored = cells.join(docT, "doc_id")
        .select(col("doc_id"), col("tt"), col("n_bigrams"),
          (col("c") * round(log(col("c").cast("double") /
            col("tt").cast("double")) * 1000).cast("long")).as("cell_mnat"))
        .groupBy("doc_id", "tt", "n_bigrams")
        .agg((-sum("cell_mnat")).as("hsum_mnat"))
        .select(col("doc_id"), col("tt"), col("n_bigrams"),
          expr("hsum_mnat div tt").as("entropy_mnat"))
        .localCheckpoint(true)
      val bottom = scored
        .orderBy(col("entropy_mnat").asc, col("doc_id").asc).limit(15)
      val mean = scored.agg(sum("tt").as("tt"), sum("n_bigrams").as("n_bigrams"),
          expr("sum(entropy_mnat) div count(1)").as("entropy_mnat"))
        .select(lit(-1L).as("doc_id"), col("tt"), col("n_bigrams"),
          col("entropy_mnat"))
      bottom.unionByName(mean)
        .orderBy(col("doc_id").asc)
    },
    Some("""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            pairs AS (
              SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
              FROM (SELECT doc_id, toks,
                      CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                        AS i
                    FROM docs WHERE len(toks) >= 2)),
            cells AS (
              SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
              FROM pairs GROUP BY 1, 2),
            doct AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS tt,
                     CAST(count(*) AS BIGINT) AS n_bigrams
              FROM cells GROUP BY 1),
            scored AS (
              SELECT c.doc_id, d.tt, d.n_bigrams,
                     CAST((-sum(c.c * CAST(round(ln(CAST(c.c AS DOUBLE)
                       / CAST(d.tt AS DOUBLE)) * 1000) AS BIGINT)))
                       // d.tt AS BIGINT) AS entropy_mnat
              FROM cells c JOIN doct d ON d.doc_id = c.doc_id
              GROUP BY c.doc_id, d.tt, d.n_bigrams),
            bottom AS (
              SELECT doc_id, tt, n_bigrams, entropy_mnat
              FROM scored ORDER BY entropy_mnat ASC, doc_id ASC LIMIT 15),
            mn AS (
              SELECT CAST(-1 AS BIGINT) AS doc_id,
                     CAST(sum(tt) AS BIGINT) AS tt,
                     CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
                     CAST(sum(entropy_mnat) // count(*) AS BIGINT)
                       AS entropy_mnat
              FROM scored)
            SELECT * FROM bottom UNION ALL SELECT * FROM mn
            ORDER BY doc_id ASC"""))

  // ------------------------------------------------ vocab OOV coverage --

  /** Tokenizer vocabulary coverage — the OOV-rate audit run before
    * committing a vocab (the deployment question behind q_vocab_topk/bpe:
    * "what fraction of UNSEEN text does this vocab cover, per language?"):
    * the top-25 tokens of the 80% hash-split TRAIN corpus become the vocab;
    * the held-out 20% is scored per language for token coverage, with OOV
    * rate in exact ppm and a '__total' row. Languages whose OOV rate is an
    * outlier are under-served by the vocab — the fairness number
    * multilingual tokenizer papers report.
    *
    * Scale: one train token agg → TakeOrdered-k vocab (broadcast — a vocab
    * is small by definition); test tokens explode linearly and the
    * coverage flag is a broadcast hash-join probe; per-lang rollup
    * combines map-side. The md5 split is append-stable (classifier_nb
    * rule).
    */
  private val qVocabOov = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          split(lower(col("text")), " ").as("toks"))
        .withColumn("istrain",
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit(":oov"))), 1, 4), 16, 10).cast("long") % 5 =!= 0L)
      val vocab = docs.filter(col("istrain"))
        .select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1L)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(25)
        .select(col("tok").as("vtok"))
      val test = docs.filter(!col("istrain"))
        .select(col("lang"), explode(col("toks")).as("tok"))
        .join(broadcast(vocab), col("tok") === col("vtok"), "left")
        .select(col("lang"),
          when(col("vtok").isNull, 1L).otherwise(0L).as("oov"))
        .localCheckpoint(true)
      val per = test.groupBy("lang")
        .agg(count(lit(1L)).as("n_tokens"), sum("oov").as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
      val total = test.agg(count(lit(1L)).as("n_tokens"),
          sum("oov").as("n_oov"))
        .select(lit("__total").as("lang"), col("n_tokens"), col("n_oov"),
          expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
      per.unionByName(total).orderBy("lang")
    },
    Some(s"""WITH docs AS (
              SELECT doc_id, lang, string_split(lower(text), ' ') AS toks,
                     ${graft.operators.DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR) || ':oov')")}
                       % 5 <> 0 AS istrain
              FROM documents),
            vocab AS (
              SELECT tok AS vtok FROM (
                SELECT unnest(toks) AS tok FROM docs WHERE istrain) u
              GROUP BY tok
              ORDER BY CAST(count(*) AS BIGINT) DESC, tok ASC LIMIT 25),
            flags AS (
              SELECT t.lang,
                     CASE WHEN v.vtok IS NULL THEN 1 ELSE 0 END AS oov
              FROM (SELECT lang, unnest(toks) AS tok FROM docs
                    WHERE NOT istrain) t
              LEFT JOIN vocab v ON v.vtok = t.tok),
            per AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(oov) AS BIGINT) AS n_oov,
                     CAST(sum(oov) * 1000000 // count(*) AS BIGINT)
                       AS oov_ppm
              FROM flags GROUP BY 1),
            tot AS (
              SELECT '__total' AS lang, CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(oov) AS BIGINT) AS n_oov,
                     CAST(sum(oov) * 1000000 // count(*) AS BIGINT)
                       AS oov_ppm
              FROM flags)
            SELECT * FROM per UNION ALL SELECT * FROM tot
            ORDER BY lang"""))

  // ---------------------------------------- LLM-watermark detection --

  /** LLM-watermark detection (Kirchenbauer et al. 2023's greenlist z-test)
    * — the synthetic-text screen a training-data pipeline runs so model
    * output doesn't feed back into training corpora: the soft watermark
    * seeds a pseudorandom "greenlist" from each previous token and biases
    * generation toward it; the DETECTOR recomputes membership
    * (md5(prev:tok) mod 4 = 0, γ = 1/4 — exactly the verifier's
    * recomputation, no model needed) and z-tests each doc's green fraction:
    * z = (4g − T)/√(3T), exact integers in the numerator, dround final.
    * Organic text sits near z = 0; watermarked text shows z ≫ 4. Emits the
    * top-10 most-suspicious docs and a doc_id = −1 summary row carrying
    * (n_docs, n_flagged) — ≈ (N, 0) on this organic corpus, which IS the
    * negative-control evidence a deployed screen needs.
    *
    * Scale: one linear bigram explode + a per-doc combine agg — lm_score
    * economics; the hash is codegen'd md5, and γ/thresholds are the only
    * knobs.
    */
  private val qTextWatermark = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      val pairs = docs
        .select(col("doc_id"), explode(when(size(col("toks")) >= 2,
          expr("""transform(sequence(1, size(toks) - 1),
                    i -> concat(element_at(toks, i), ':',
                                element_at(toks, i + 1)))"""))
          .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))).as("bg"))
      val green = conv(substring(md5(concat(col("bg"), lit(":wm1"))), 1, 4),
        16, 10).cast("long") % 4 === 0L
      val per = pairs
        .select(col("doc_id"), green.cast("long").as("g"))
        .groupBy("doc_id")
        .agg(count(lit(1L)).as("t_bigrams"), sum("g").as("g_hits"))
        .withColumn("z", dround((lit(4.0) * col("g_hits") - col("t_bigrams")) /
          sqrt(lit(3.0) * col("t_bigrams")), 4))
        .withColumn("flagged", col("z") > 4.0)
        .localCheckpoint(true)
      val top = per.orderBy(col("z").desc, col("doc_id").asc).limit(10)
      val summary = per.agg(count(lit(1L)).as("t_bigrams"),
          sum(col("flagged").cast("long")).as("g_hits"))
        .select(lit(-1L).as("doc_id"), col("t_bigrams"), col("g_hits"),
          lit(null).cast("double").as("z"), (col("g_hits") > 0L).as("flagged"))
      top.unionByName(summary).orderBy(col("doc_id").asc)
    },
    Some(s"""WITH docs AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            pairs AS (
              SELECT doc_id, toks[i] || ':' || toks[i + 1] AS bg
              FROM (SELECT doc_id, toks,
                      CAST(unnest(generate_series(1, len(toks) - 1)) AS INT)
                        AS i
                    FROM docs WHERE len(toks) >= 2)),
            per AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS t_bigrams,
                     CAST(sum(CASE WHEN
                       ${graft.operators.DedupOps.duckHex4("md5(bg || ':wm1')")}
                         % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g_hits
              FROM pairs GROUP BY 1),
            z AS (
              SELECT doc_id, t_bigrams, g_hits,
                     CAST(round(CAST((4.0 * g_hits - t_bigrams)
                       / sqrt(3.0 * t_bigrams) AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS z
              FROM per),
            zf AS (SELECT *, z > 4.0 AS flagged FROM z),
            top AS (
              SELECT doc_id, t_bigrams, g_hits, z, flagged
              FROM zf ORDER BY z DESC, doc_id ASC LIMIT 10),
            summary AS (
              SELECT CAST(-1 AS BIGINT) AS doc_id,
                     CAST(count(*) AS BIGINT) AS t_bigrams,
                     CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT)
                       AS g_hits,
                     CAST(NULL AS DOUBLE) AS z,
                     sum(CASE WHEN flagged THEN 1 ELSE 0 END) > 0 AS flagged
              FROM zf)
            SELECT * FROM top UNION ALL SELECT * FROM summary
            ORDER BY doc_id ASC"""))

  // --------------------------------------------- TextRank summarization --

  /** TextRank extractive summarization (Mihalcea & Tarau, EMNLP'04) — the
    * sentence-RANKING op next to q_text_rake's keyword extraction: docs
    * split into 10-token pseudo-sentences (the q_text_chunk window
    * convention — the synthetic corpus carries no punctuation), a
    * sentence-similarity graph from shared-distinct-token counts via the
    * inverted token index (self-join on (doc, tok), never sentence×sentence
    * — the q_dedup_* blocking discipline), edges kept at overlap ≥ 3
    * (measured: ~7 edges/doc at this vocab), and 3 rounds of weighted
    * PageRank in exact ppm integers over each doc's graph
    * (mass' = 0.15 + 0.85·Σ mass·w div wsum — the q_graph_pagerank
    * fixed-point recipe, oracle unrolled as chained CTEs). Emits the top-2
    * sentences per doc (score desc, position asc — the deterministic
    * tie-break) = the extractive summary as (doc, pos, score, rank).
    *
    * Scale: everything is keyed by doc_id — the graph never crosses
    * documents, so the whole op co-partitions on doc and the iteration
    * joins shuffle (doc, pos)-sized frames; the token self-join is
    * bounded by in-doc token frequency, not corpus size. Edge list
    * materialized once (localCheckpoint) and reused by all rounds.
    */
  private val qTextTextrank = GQuery(
    (s, d) => {
      val sent = t(s, d, "documents")
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("toks")), lit(10))).as("pos"),
          col("toks"))
        .localCheckpoint(true) // reused: token index + final left-join
      val stok = sent
        .select(col("doc_id"), col("pos"),
          explode(slice(col("toks"), col("pos"), lit(10))).as("tok"))
        // cluster by the join key BEFORE the distinct: (doc, tok) is a
        // subset of the distinct's keys, so the dedup, and then BOTH
        // sides of the inverted-index self-join, ride this one exchange
        .repartition(col("doc_id"), col("tok"))
        .distinct()
      val ed0 = stok.as("a").join(stok.as("b"),
          col("a.doc_id") === col("b.doc_id") &&
            col("a.tok") === col("b.tok") && col("a.pos") < col("b.pos"))
        .groupBy(col("a.doc_id").as("doc_id"), col("a.pos").as("pa"),
          col("b.pos").as("pb"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 3)
      val ew = ed0
        .unionByName(ed0.select(col("doc_id"), col("pb").as("pa"),
          col("pa").as("pb"), col("w")))
        .withColumn("wsum",
          sum("w").over(Window.partitionBy("doc_id", "pa")))
        .localCheckpoint(true) // 3 rounds reuse the weighted edge list
      var rank = ew
        .select(col("doc_id"), col("pb"),
          expr("(1000000 * 85 * w) div (100 * wsum)").as("c"))
        .groupBy("doc_id", "pb")
        .agg((lit(150000L) + sum("c")).as("mass"))
      for (_ <- 2 to 3) {
        rank = ew.join(
            rank.select(col("doc_id"), col("pb").as("pa"), col("mass")),
            Seq("doc_id", "pa"))
          .select(col("doc_id"), col("pb"),
            expr("(mass * 85 * w) div (100 * wsum)").as("c"))
          .groupBy("doc_id", "pb")
          .agg((lit(150000L) + sum("c")).as("mass"))
      }
      val fin = sent.select(col("doc_id"), col("pos"))
        .join(rank.select(col("doc_id"), col("pb").as("pos"), col("mass")),
          Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"),
          coalesce(col("mass"), lit(150000L)).as("score_ppm"))
      val wTop = Window.partitionBy("doc_id")
        .orderBy(col("score_ppm").desc, col("pos").asc)
      fin.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 2)
        .select(col("doc_id"), col("pos").cast("int").as("pos"),
          col("score_ppm"), col("rk").cast("int").as("rk"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH tk AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            sent AS (
              SELECT doc_id,
                     unnest(generate_series(1, len(toks), 10)) AS pos, toks
              FROM tk),
            stok AS (
              SELECT DISTINCT doc_id, pos, tok
              FROM (SELECT doc_id, pos,
                           unnest(list_slice(toks, pos, pos + 9)) AS tok
                    FROM sent)),
            ed0 AS (
              SELECT a.doc_id, a.pos AS pa, b.pos AS pb,
                     CAST(count(*) AS BIGINT) AS w
              FROM stok a JOIN stok b
                ON a.doc_id = b.doc_id AND a.tok = b.tok AND a.pos < b.pos
              GROUP BY 1, 2, 3 HAVING count(*) >= 3),
            edges AS (
              SELECT doc_id, pa, pb, w FROM ed0
              UNION ALL
              SELECT doc_id, pb, pa, w FROM ed0),
            ew AS (
              SELECT doc_id, pa, pb, w,
                     CAST(sum(w) OVER (PARTITION BY doc_id, pa) AS BIGINT)
                       AS wsum
              FROM edges),
            r1 AS (
              SELECT doc_id, pb,
                     CAST(150000 + sum((1000000 * 85 * w) // (100 * wsum))
                       AS BIGINT) AS mass
              FROM ew GROUP BY 1, 2),
            r2 AS (
              SELECT ew.doc_id, ew.pb,
                     CAST(150000 + sum((r1.mass * 85 * ew.w)
                       // (100 * ew.wsum)) AS BIGINT) AS mass
              FROM ew JOIN r1 ON ew.doc_id = r1.doc_id AND ew.pa = r1.pb
              GROUP BY 1, 2),
            r3 AS (
              SELECT ew.doc_id, ew.pb,
                     CAST(150000 + sum((r2.mass * 85 * ew.w)
                       // (100 * ew.wsum)) AS BIGINT) AS mass
              FROM ew JOIN r2 ON ew.doc_id = r2.doc_id AND ew.pa = r2.pb
              GROUP BY 1, 2),
            fin AS (
              SELECT s.doc_id, s.pos,
                     coalesce(r3.mass, 150000) AS score_ppm
              FROM sent s LEFT JOIN r3
                ON s.doc_id = r3.doc_id AND s.pos = r3.pb)
            SELECT doc_id, CAST(pos AS INT) AS pos,
                   CAST(score_ppm AS BIGINT) AS score_ppm,
                   CAST(rk AS INT) AS rk
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score_ppm DESC, pos ASC) AS rk
                  FROM fin)
            WHERE rk <= 2 ORDER BY doc_id, rk"""))

  // ----------------------------------------------------- G² keyness --

  /** Log-likelihood keyness (Dunning 1993 G², the corpus-linguistics
    * "what words define this source vs the rest" test — the per-source
    * vocabulary fingerprint a mixing pipeline reads before weighting
    * sources): for word w in source s with a = count in s, b = count
    * elsewhere, G² = 2·(a·ln(a/Eₐ) + b·ln(b/E_b)) against the
    * proportional-split expectation Eₐ = (a+b)·nₛ/N. Overused words only
    * (ln-ratio > 0), corpus frequency floor a+b ≥ 10, top-3 per source
    * by G². Fixed-point economics: the ln ratios enter as mirrored
    * micro-nat integers round(ln((a·N)/(Tw·nₛ))·10⁶) — BIGINT products
    * inside the cast-to-double division so both engines feed ln the
    * bit-identical quotient — and G² assembles as exact integer
    * a·lra + b·lrb (b = 0 short-circuits to 0, the x·ln x → 0 limit,
    * BEFORE ln sees a zero).
    *
    * Scale: one (source, word) agg + a word-keyed join to word totals +
    * broadcast source totals; the per-source top-3 runs SALTED two-level
    * (the bm25/sample_balanced shape — local top-3 within (source, salt)
    * cells, then the global top-3 over ≤ 24 survivors per source), so no
    * source-sized single-task sort exists at any vocab size. a·N products
    * cross 2⁶³ around 10¹⁸ token-pairs — DECIMAL(38) widening applies
    * (corrmatrix rule).
    */
  private val qTextKeyness = GQuery(
    (s, d) => {
      val sw = t(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1L)).as("a"))
        .localCheckpoint(true) // feeds word totals, source totals, and scoring
      val wt = sw.groupBy("w").agg(sum("a").as("tw"))
      val st = sw.groupBy("source").agg(sum("a").as("ns"))
      val nTot = st.agg(sum("ns").as("n"))
      val scored = sw.join(wt, "w")
        .filter(col("tw") >= 10)
        .join(broadcast(st), "source")
        .crossJoin(broadcast(nTot))
        .withColumn("b", col("tw") - col("a"))
        .withColumn("rest", col("n") - col("ns"))
        .withColumn("lra",
          round(log((col("a") * col("n")) / (col("tw") * col("ns"))) * 1e6)
            .cast("long"))
        .withColumn("lrb",
          when(col("b") > 0,
            round(log((col("b") * col("n")) / (col("tw") * col("rest")))
              * 1e6).cast("long")).otherwise(lit(0L)))
        .filter(col("lra") > 0)
        .withColumn("g2_micro",
          (col("a") * col("lra") + col("b") * col("lrb")) * 2)
      // salted two-level top-3 (the bm25/sample_balanced shape): the local
      // rank bounds any one task to 1/8 of a source's vocab, so a source
      // whose vocab outgrows a task never serializes a single-task sort;
      // the global top-3 provably survives every salt cell's top-3
      val wLocal = Window
        .partitionBy(col("source"), pmod(crc32(col("w")), lit(8)))
        .orderBy(col("g2_micro").desc, col("w").asc)
      val wTop = Window.partitionBy("source")
        .orderBy(col("g2_micro").desc, col("w").asc)
      scored
        .withColumn("lrk", row_number().over(wLocal))
        .filter(col("lrk") <= 3)
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("source"), col("w").as("word"), col("a"), col("b"),
          col("g2_micro"), col("rk").cast("long").as("rk"))
        .orderBy("source", "rk")
    },
    Some("""WITH toks AS (
              SELECT source, unnest(string_split(lower(text), ' ')) AS w
              FROM documents),
            sw AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS a
              FROM toks GROUP BY 1, 2),
            wt AS (SELECT w, CAST(sum(a) AS BIGINT) AS tw
                   FROM sw GROUP BY 1),
            st AS (SELECT source, CAST(sum(a) AS BIGINT) AS ns
                   FROM sw GROUP BY 1),
            n AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM st),
            scored AS (
              SELECT sw.source, sw.w, sw.a, wt.tw - sw.a AS b,
                     CAST(round(ln((sw.a * n.n)
                       / (wt.tw * st.ns)) * 1e6) AS BIGINT) AS lra,
                     CASE WHEN wt.tw - sw.a > 0
                       THEN CAST(round(ln(((wt.tw - sw.a) * n.n)
                         / (wt.tw * (n.n - st.ns))) * 1e6) AS BIGINT)
                       ELSE 0 END AS lrb
              FROM sw
              JOIN wt USING (w)
              JOIN st USING (source)
              CROSS JOIN n
              WHERE wt.tw >= 10),
            g AS (
              SELECT source, w, a, b,
                     (a * lra + b * lrb) * 2 AS g2_micro
              FROM scored WHERE lra > 0),
            rk AS (
              SELECT source, w AS word, a, b, g2_micro,
                     row_number() OVER (PARTITION BY source
                       ORDER BY g2_micro DESC, w ASC) AS rk
              FROM g QUALIFY rk <= 3)
            SELECT source, word, a, b, CAST(g2_micro AS BIGINT) AS g2_micro,
                   CAST(rk AS BIGINT) AS rk
            FROM rk ORDER BY source, rk"""))

  // ------------------------------------------------- vocab coverage --

  /** Vocabulary coverage curve — the tokenizer-sizing readout: what share
    * of corpus tokens does a size-K vocabulary cover, for K ∈ {16, 64,
    * 256, 1024}? (The OOV-rate complement as a function of vocab budget —
    * q_vocab_oov measures one fixed vocab, this sweeps the knob; the
    * curve's knee is where a tokenizer stops buying coverage with size.)
    * Exact integers: coverage_ppm = (Σ top-K counts)·10⁶ div N, ranks on
    * the (count desc, token asc) total order.
    *
    * Scale: the global sort is TakeOrderedAndProject(1024) — top-K heaps
    * per partition merged on the driver, never a full vocab sort — and
    * the rank window runs AFTER the limit, over exactly 1024 rows in one
    * task by design (not a corpus-sized single partition). The K-sweep is
    * a 4-row broadcast crossJoin against those 1024. Total tokens is one
    * map-combinable agg off the same vocab table.
    */
  private val qVocabCoverage = GQuery(
    (s, d) => {
      val vocab = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1L)).as("c"))
        .localCheckpoint(true) // feeds the top-1024 AND the total
      val total = vocab.agg(sum("c").as("n"))
      val ranked = vocab.orderBy(col("c").desc, col("token").asc).limit(1024)
        .withColumn("rn",
          row_number().over(Window.orderBy(col("c").desc, col("token").asc)))
      val ks = s.createDataFrame(Seq(Tuple1(16L), Tuple1(64L), Tuple1(256L),
        Tuple1(1024L))).toDF("vocab_k")
      ranked.crossJoin(broadcast(ks))
        .filter(col("rn") <= col("vocab_k"))
        .groupBy("vocab_k")
        .agg(sum("c").as("cover_tokens"))
        .crossJoin(broadcast(total))
        .select(col("vocab_k"), col("cover_tokens"), col("n").as("total_tokens"),
          expr("(cover_tokens * 1000000) div n").as("coverage_ppm"))
        .orderBy("vocab_k")
    },
    Some("""WITH toks AS (
              SELECT unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
            vocab AS (
              SELECT token, CAST(count(*) AS BIGINT) AS c
              FROM toks GROUP BY 1),
            total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vocab),
            ranked AS (
              SELECT c, row_number() OVER (ORDER BY c DESC, token ASC) AS rn
              FROM vocab QUALIFY rn <= 1024),
            ks AS (SELECT * FROM (VALUES (16), (64), (256), (1024))
                   AS t(vocab_k))
            SELECT CAST(k.vocab_k AS BIGINT) AS vocab_k,
                   CAST(sum(r.c) AS BIGINT) AS cover_tokens,
                   CAST(any_value(t.n) AS BIGINT) AS total_tokens,
                   CAST(sum(r.c) * 1000000 // any_value(t.n) AS BIGINT)
                     AS coverage_ppm
            FROM ranked r CROSS JOIN ks k CROSS JOIN total t
            WHERE r.rn <= k.vocab_k
            GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------ Chao1 richness --

  /** Chao1 species-richness estimation over 3-gram "species" — the
    * unseen-diversity readout corpus curation reads next to the Heaps fit
    * (q_text_heaps extrapolates the OBSERVED growth curve; Chao1 estimates
    * the asymptote from the abundance spectrum alone): for each source,
    * D observed distinct 3-grams, f₁ singletons, f₂ doubletons, and the
    * bias-corrected estimator Ĉ = D + f₁(f₁−1) div (2(f₂+1)) — defined
    * even at f₂ = 0, exact integer throughout. Alongside: Good–Turing
    * sample coverage C = 1 − f₁/n as coverage_ppm = (n−f₁)·10⁶ div n
    * (the probability the NEXT 3-gram drawn is already known — the "is
    * more of this source worth crawling" gate), and the corpus-wide D as
    * d_global so each per-source asymptote reads against what the whole
    * corpus actually realized. TOTAL row via the same aggregation over
    * the undivided corpus.
    *
    * Scale: one (source, gram) count agg (map-side combinable, shuffle on
    * the high-entropy gram key), then per-source rows collapse to the
    * f₁/f₂/D spectrum — output is |sources| rows. The TOTAL spectrum is a
    * second gram-keyed agg, not a re-scan (both branches read the one
    * localCheckpointed gram count). No sort anywhere; the f-spectrum is a
    * conditional sum, not a rank.
    */
  private val qVocabChao1 = GQuery(
    (s, d) => {
      val sh = t(s, d, "documents")
        .select(col("source"), split(col("text"), " ").as("toks"))
        .select(col("source"),
          explode(expr("""transform(
            sequence(1, greatest(size(toks) - 2, 1)),
            i -> concat_ws(' ', slice(toks, i, 3)))""")).as("g"))
      val counts = sh.groupBy("source", "g")
        .agg(count(lit(1L)).as("c"))
        .localCheckpoint(true) // feeds per-source spectrum + global D
      def spectrum(g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
        g.agg(sum("c").as("n"), count(lit(1L)).as("d_obs"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      val perSrc = spectrum(counts.groupBy("source"))
      val total = spectrum(
        counts.groupBy("g").agg(sum("c").as("c")).groupBy())
        .withColumn("source", lit("TOTAL"))
        .select("source", "n", "d_obs", "f1", "f2")
        .localCheckpoint(true) // 1 row; also carries d_global below
      // d_global IS the TOTAL row's d_obs (distinct grams) — deriving it
      // there saves a third full pass + countDistinct over the gram grid
      val dGlobal = total.select(col("d_obs").as("d_global"))
      perSrc.unionByName(total)
        .crossJoin(broadcast(dGlobal))
        .select(col("source"), col("n"), col("d_obs"), col("f1"), col("f2"),
          (col("d_obs") +
            expr("(f1 * (f1 - 1)) div (2 * (f2 + 1))")).as("chao1_est"),
          expr("(n - f1) * 1000000 div n").as("coverage_ppm"),
          col("d_global"))
        .orderBy("source")
    },
    Some("""WITH d AS (
              SELECT source, string_split(text, ' ') AS toks
              FROM documents),
            sh AS (
              SELECT source,
                     unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                       AS g
              FROM d),
            c AS (
              SELECT source, g, CAST(count(*) AS BIGINT) AS c
              FROM sh GROUP BY 1, 2),
            spec AS (
              SELECT source, CAST(sum(c) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS d_obs,
                     CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS f1,
                     CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                       AS f2
              FROM c GROUP BY 1
              UNION ALL
              SELECT 'TOTAL', CAST(sum(c) AS BIGINT),
                     CAST(count(*) AS BIGINT),
                     CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT),
                     CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
              FROM (SELECT g, CAST(sum(c) AS BIGINT) AS c
                    FROM c GROUP BY 1)),
            gd AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS d_global
                   FROM c)
            SELECT source, n, d_obs, f1, f2,
                   CAST(d_obs + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
                     AS chao1_est,
                   CAST((n - f1) * 1000000 // n AS BIGINT) AS coverage_ppm,
                   gd.d_global
            FROM spec CROSS JOIN gd ORDER BY source"""))

  // ------------------------------------------- Good–Turing smoothing --

  /** Good–Turing frequency smoothing over the token-trigram vocabulary
    * (Good 1953 — public; the estimator under Katz backoff and the classic
    * answer to "how much probability mass belongs to UNSEEN grams?" —
    * trigrams are the gram unit q_vocab_chao1 estimates richness for, and
    * the corpus's synthetic unigram vocabulary is a closed 31-word set
    * with no rare classes, so the n-gram level is where GT is live):
    * from the frequency-of-frequencies spectrum N_r, the smoothed count
    * r* = (r+1)·N_{r+1}/N_r and the class mass N_r·r∗/N = (r+1)·N_{r+1}/N
    * — emitted for r = 1..10 plus the r = 0 row whose mass_ppm is the
    * leftover/unseen estimate N₁/N (the quantity q_vocab_chao1 reads as
    * 1 − coverage, here given its probabilistic meaning). EVERYTHING is
    * exact integer ppm/micro arithmetic ((r+1)·N_{r+1}·10⁶ div N_r —
    * IntegralDivide ≡ DuckDB //); the empirical spectrum's raw N_r ships
    * alongside so the discount r∗/r is readable off the row.
    *
    * Scale: one linear token explode → vocab-sized word counts → a
    * spectrum agg of ≤ max-count rows; the r+1 lookup is a self-join on
    * the TINY spectrum. Zipf guarantees N_r > 0 for small r on any real
    * corpus; an empty class would simply drop its row (inner join), never
    * divide by zero.
    */
  private val qVocabGoodturing = GQuery(
    (s, d) => {
      val wc = t(s, d, "documents")
        .select(split(lower(col("text")), " ").as("toks"))
        .select(explode(expr("""transform(
            sequence(1, greatest(size(toks) - 2, 1)),
            i -> concat_ws(' ', slice(toks, i, 3)))""")).as("w"))
        .groupBy("w").agg(count(lit(1L)).as("c"))
      val nr = wc.groupBy("c").agg(count(lit(1L)).as("n_r"))
        .localCheckpoint(true) // spectrum-sized; feeds N, the shift join, r0
      val totN = nr.agg(sum(col("c") * col("n_r")).as("n"))
      val shifted = nr.select((col("c") - 1).as("c"), col("n_r").as("n_r1"))
      val classes = nr.join(shifted, "c")
        .filter(col("c").between(1, 10))
        .crossJoin(broadcast(totN))
        .select(col("c").as("r"), col("n_r"),
          expr("(c + 1) * n_r1 * 1000000 div n_r").as("r_star_micro"),
          expr("(c + 1) * n_r1 * 1000000 div n").as("mass_ppm"))
      val r0 = nr.filter(col("c") === 1).crossJoin(broadcast(totN))
        .select(lit(0L).as("r"), lit(0L).as("n_r"),
          lit(null).cast("long").as("r_star_micro"),
          expr("n_r * 1000000 div n").as("mass_ppm"))
      r0.unionByName(classes).orderBy("r")
    },
    Some("""WITH d AS (
              SELECT string_split(lower(text), ' ') AS toks FROM documents),
            wc AS (
              SELECT w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(list_transform(
                      generate_series(1, greatest(len(toks) - 2, 1)),
                      i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                      AS w
                    FROM d)
              GROUP BY 1),
            nr AS (
              SELECT c, CAST(count(*) AS BIGINT) AS n_r
              FROM wc GROUP BY 1),
            totn AS (SELECT CAST(sum(c * n_r) AS BIGINT) AS n FROM nr),
            classes AS (
              SELECT a.c AS r, a.n_r,
                     CAST((a.c + 1) * b.n_r * 1000000 // a.n_r AS BIGINT)
                       AS r_star_micro,
                     CAST((a.c + 1) * b.n_r * 1000000 // t.n AS BIGINT)
                       AS mass_ppm
              FROM nr a JOIN nr b ON b.c = a.c + 1 CROSS JOIN totn t
              WHERE a.c BETWEEN 1 AND 10),
            r0 AS (
              SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
                     CAST(NULL AS BIGINT) AS r_star_micro,
                     CAST(a.n_r * 1000000 // t.n AS BIGINT) AS mass_ppm
              FROM nr a CROSS JOIN totn t WHERE a.c = 1)
            SELECT * FROM r0 UNION ALL SELECT * FROM classes
            ORDER BY r"""))

  // --------------------------------------------- boilerplate stripping --

  /** Within-source boilerplate detection — the CCNet/RefinedWeb curation
    * step that strips navigation chrome, legal footers, and template spans
    * repeated across one site's pages: a bigram span is boilerplate when it
    * recurs in ≥ 5 documents OF THE SAME SOURCE (cross-source repetition is
    * natural language, within-source repetition is template). Emits the
    * per-doc strip gauge — total bigram positions, boilerplate positions,
    * and boiler_ppm (exact integer div) — the keep/strip input a curation
    * pass thresholds on.
    *
    * Scale: bigrams explode map-side; the document-frequency agg keys on
    * (source, bigram) whose Zipf-bounded blocks shuffle balanced; the
    * boiler set per source is tiny (high-df tail) so the position-marking
    * join back is a bigram-keyed hash join with a broadcastable build side
    * at any corpus size; the per-doc rollup co-partitions with the explode.
    * The corpus is touched twice (df pass + mark pass), never joined to
    * itself row-by-row.
    */
  private val qTextBoilerplate = GQuery(
    (s, d) => {
      val base = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          split(lower(col("text")), " ").as("tk"))
        // barrier: the bigram lambda references tk — unmaterialized, the
        // split() would re-run per element (HOF-capture invariant)
        .localCheckpoint(true)
        // size-1 guard: sequence(1, 0) counts DOWN (phantom index under ANSI)
        .withColumn("bgs", when(size(col("tk")) >= 2,
          expr("""transform(sequence(1, size(tk) - 1),
                    i -> concat(element_at(tk, i), ' ',
                                element_at(tk, i + 1)))"""))
          .otherwise(array().cast("array<string>")))
      val pos = base.select(col("doc_id"), col("source"),
        explode(col("bgs")).as("bg"))
        .localCheckpoint(true) // feeds the df agg AND the mark-back join
      val boiler = pos.groupBy("source", "bg")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 5)
        .select(col("source"), col("bg"), lit(1L).as("bo"))
        // high-df tail of the per-source bigram vocabulary: tiny here, and
        // materializing it makes the size guard below a metadata-cheap
        // count instead of a second df-agg pass
        .localCheckpoint(true)
      // SIZE-GUARDED broadcast (guide §3.1, ADVICE r12): the df≥5 boiler
      // set is sub-linear in the corpus (repeated-phrase vocabulary) but
      // has no hard bound; below graft.broadcast.maxKeys the exploded
      // bigram side joins map-side instead of shuffling by (source, bg),
      // above it the join falls back to the shuffle contract (SCALE.md)
      val boilerBroadcastable =
        boiler.count() <= s.conf.get("graft.broadcast.maxKeys", "5000000").toLong
      pos.join(if (boilerBroadcastable) broadcast(boiler) else boiler,
          Seq("source", "bg"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1L)).as("n_sh"),
          sum(coalesce(col("bo"), lit(0L))).as("n_boiler"))
        .withColumn("boiler_ppm", expr("n_boiler * 1000000 div n_sh"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source, string_split(lower(text), ' ') AS tk
              FROM documents),
            pos AS (
              SELECT doc_id, source,
                     unnest(list_transform(generate_series(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i + 1])) AS bg
              FROM toks),
            boiler AS (
              SELECT source, bg
              FROM pos GROUP BY 1, 2
              HAVING count(DISTINCT doc_id) >= 5),
            per AS (
              SELECT p.doc_id, p.source,
                     CAST(count(*) AS BIGINT) AS n_sh,
                     CAST(sum(CASE WHEN b.bg IS NOT NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_boiler
              FROM pos p
              LEFT JOIN boiler b ON b.source = p.source AND b.bg = p.bg
              GROUP BY 1, 2)
            SELECT doc_id, source, n_sh, n_boiler,
                   CAST(n_boiler * 1000000 // n_sh AS BIGINT) AS boiler_ppm
            FROM per ORDER BY doc_id"""))

  // ------------------------------------------------ prefix (autocomplete) --

  /** Prefix-completion index build — the autocomplete/search-suggest
    * artifact: for every token prefix of length 1–3, the total mass under
    * the prefix, the branching factor (distinct completions), and the
    * top completion (count desc, token asc — the min-of-(−count, token)
    * struct trick makes argmax deterministic and engine-portable). This
    * is the batch index a typeahead service loads; the same shape at
    * character depth k is the trie level k.
    *
    * Scale: the corpus collapses to the vocab table first (map-combinable);
    * the ×3 prefix explode runs on VOCAB rows, not corpus rows, and the
    * (plen, prefix) agg keys are Zipf-bounded — vocab economics all the
    * way; no windows, no joins.
    */
  private val qVocabPrefix = GQuery(
    (s, d) => {
      val vocab = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .groupBy("token").agg(count(lit(1L)).as("c"))
      vocab
        .select(col("token"), col("c"),
          explode(expr("sequence(1, 3)")).as("pl"))
        .filter(length(col("token")) >= col("pl"))
        .select(col("pl").cast("long").as("plen"),
          expr("substring(token, 1, pl)").as("prefix"),
          col("token"), col("c"))
        .groupBy("plen", "prefix")
        .agg(countDistinct("token").as("n_completions"),
          sum("c").as("total"),
          min(struct((-col("c")).as("nc"), col("token").as("tok")))
            .as("m"))
        .select(col("plen"), col("prefix"), col("n_completions"),
          col("total"), col("m.tok").as("top_token"),
          (-col("m.nc")).as("top_c"))
        .orderBy("plen", "prefix")
    },
    Some("""WITH vocab AS (
              SELECT unnest(string_split(lower(text), ' ')) AS token
              FROM documents),
            vc AS (
              SELECT token, CAST(count(*) AS BIGINT) AS c
              FROM vocab GROUP BY 1),
            pfx AS (
              SELECT CAST(pl AS BIGINT) AS plen,
                     substr(token, 1, CAST(pl AS INT)) AS prefix,
                     token, c
              FROM vc, (SELECT unnest([1, 2, 3]) AS pl)
              WHERE len(token) >= pl),
            agg AS (
              SELECT plen, prefix,
                     CAST(count(DISTINCT token) AS BIGINT) AS n_completions,
                     CAST(sum(c) AS BIGINT) AS total,
                     min(struct_pack(nc := -c, tok := token)) AS m
              FROM pfx GROUP BY 1, 2)
            SELECT plen, prefix, n_completions, total,
                   struct_extract(m, 'tok') AS top_token,
                   CAST(-struct_extract(m, 'nc') AS BIGINT) AS top_c
            FROM agg ORDER BY plen, prefix"""))

  // --------------------------------------------------- Burrows' Delta --

  /** Burrows' Delta — the authorship-attribution distance q_text_stylometry
    * feeds (stylometry emits per-source features; Delta turns the
    * most-frequent-word profile into a source×source DISTANCE): for the
    * top-20 corpus words, each source's relative frequency (exact ppm)
    * z-scores across sources — computed from exact integer moments
    * (z = (n·f − S)/√(n·(n·Q − S²)), S = Σf, Q = Σf², all BIGINT — the
    * degenerate-sd test n·Q = S² is exact, never an fp boundary), snapped
    * once to micro units (keyness grid rule), and Delta(a,b) = Σ|z_a − z_b|
    * over the shared word set — the exact-integer SUM orders identically
    * to Burrows' mean because every pair shares the same surviving words.
    * Emits the top-3 nearest neighbors per source — the "who writes like
    * whom" readout.
    *
    * Scale: one (source, word) agg against a broadcast top-20 word list;
    * the z table is |sources|×20; the pairwise stage runs on that tiny
    * table (overlap-matrix economics — the corpus is never self-joined).
    */
  private val qTextBurrows = GQuery(
    (s, d) => {
      val sw = t(s, d, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("source", "w").agg(count(lit(1L)).as("c"))
        .localCheckpoint(true) // feeds totals, top words, and frequencies
      val topW = sw.groupBy("w").agg(sum("c").as("tc"))
        .orderBy(col("tc").desc, col("w").asc).limit(20)
        .select(col("w"))
      val st = sw.groupBy("source").agg(sum("c").as("ns"))
      // relative frequency in exact ppm (integer div), 0 when absent
      val f = st.crossJoin(broadcast(topW))
        .join(sw, Seq("source", "w"), "left")
        .select(col("source"), col("w"),
          expr("coalesce(c, 0) * 1000000 div ns").as("f_ppm"))
        .localCheckpoint(true) // |sources|·20 rows; feeds mom AND z
      val mom = f.groupBy("w").agg(count(lit(1L)).as("n"),
        sum("f_ppm").as("sf"),
        sum((col("f_ppm") * col("f_ppm")).cast("decimal(38,0)")).as("qf"))
      // z in micro units off exact integer moments (keyness micro-grid
      // rule); n·Q = S² is an EXACT degenerate-sd test, never fp
      val z = f.join(mom, "w")
        .filter(col("n").cast("decimal(38,0)") * col("qf") >
          (col("sf") * col("sf")).cast("decimal(38,0)"))
        .select(col("source"), col("w"),
          round((col("n") * col("f_ppm") - col("sf")).cast("double") /
            sqrt((col("n").cast("decimal(38,0)") * col("qf") -
              (col("sf") * col("sf")).cast("decimal(38,0)"))
              .cast("double") * col("n").cast("double")) * 1e6)
            .cast("long").as("z_micro"))
        .localCheckpoint(true) // both sides of the source-pair self-join
      // Delta as the exact SUM of |z_a − z_b| (all pairs share the same
      // surviving word set, so the sum orders identically to the mean —
      // no fp aggregation enters the ranking)
      val delta = z.select(col("source").as("s_a"), col("w"), col("z_micro"))
        .join(z.select(col("source").as("s_b"), col("w"),
          col("z_micro").as("zb")), "w")
        .filter(col("s_a") =!= col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(count(lit(1L)).as("n_words"),
          sum(abs(col("z_micro") - col("zb"))).as("delta_micro_sum"))
      val wNear = Window.partitionBy("s_a")
        .orderBy(col("delta_micro_sum").asc, col("s_b").asc)
      delta.withColumn("rk", row_number().over(wNear))
        .filter(col("rk") <= 3)
        .select(col("s_a").as("source"), col("rk").cast("long").as("rk"),
          col("s_b").as("neighbor"), col("n_words"),
          col("delta_micro_sum"))
        .orderBy("source", "rk")
    },
    Some("""WITH sw AS (
              SELECT source, unnest(string_split(lower(text), ' ')) AS w
              FROM documents),
            swc AS (
              SELECT source, w, CAST(count(*) AS BIGINT) AS c
              FROM sw GROUP BY 1, 2),
            topw AS (
              SELECT w FROM (SELECT w, sum(c) AS tc FROM swc GROUP BY 1)
              ORDER BY tc DESC, w LIMIT 20),
            st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns
                   FROM swc GROUP BY 1),
            f AS (
              SELECT st.source, topw.w,
                     CAST(coalesce(swc.c, 0) * 1000000 // st.ns AS BIGINT)
                       AS f_ppm
              FROM st CROSS JOIN topw
              LEFT JOIN swc ON swc.source = st.source AND swc.w = topw.w),
            mom AS (
              SELECT w, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(f_ppm) AS BIGINT) AS sf,
                     sum(CAST(f_ppm AS HUGEINT) * f_ppm) AS qf
              FROM f GROUP BY 1),
            z AS (
              SELECT source, f.w,
                     CAST(round(CAST(n * f_ppm - sf AS DOUBLE)
                       / sqrt(CAST(n * qf - CAST(sf AS HUGEINT) * sf
                           AS DOUBLE) * CAST(n AS DOUBLE)) * 1e6)
                       AS BIGINT) AS z_micro
              FROM f JOIN mom ON mom.w = f.w
              WHERE CAST(n AS HUGEINT) * qf > CAST(sf AS HUGEINT) * sf),
            delta AS (
              SELECT a.source AS s_a, b.source AS s_b,
                     CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(abs(a.z_micro - b.z_micro)) AS BIGINT)
                       AS delta_micro_sum
              FROM z a JOIN z b ON a.w = b.w AND a.source <> b.source
              GROUP BY 1, 2),
            rk AS (
              SELECT s_a, s_b, n_words, delta_micro_sum,
                     row_number() OVER (PARTITION BY s_a
                       ORDER BY delta_micro_sum ASC, s_b ASC) AS rk
              FROM delta)
            SELECT s_a AS source, CAST(rk AS BIGINT) AS rk,
                   s_b AS neighbor, n_words, delta_micro_sum
            FROM rk WHERE rk <= 3 ORDER BY source, rk"""))

  // ------------------------------------------------- SymSpell correction --

  /** SymSpell spell-correction — DELETION-KEY blocking, the one blocking
    * family the dedup ladder doesn't already carry (bands hash content,
    * prefixes order tokens; SymSpell's insight is that edit-distance-1
    * neighbors SHARE a delete-1 variant, so candidate generation is an
    * equi-join on deletion keys — no all-pairs edit distance): the typo
    * side is planted deterministically (docs with doc_id ≡ 0 mod 13 drop
    * one character — position doc_id mod len — from their first token;
    * the corpus itself is typo-free, the impute planting rule), keys are
    * each string plus its delete-1 variants on BOTH sides (distance ≤ 2
    * coverage), candidates verify with the native levenshtein ≤ 1, and
    * the best correction ranks by (distance, corpus count desc, word).
    *
    * Scale: vocab-side keys are |vocab|·(len+1) rows built once (an index
    * artifact, append-maintained like the band index); typo keys explode
    * map-side; the join is hash-equi on short string keys — candidate
    * counts bounded by key collisions, never |vocab| per typo. The
    * verify step touches candidates only (PPJoin economics).
    */
  private val qTextSymspell = GQuery(
    (s, d) => {
      def del1(c: org.apache.spark.sql.Column) = expr(
        s"""transform(sequence(1, length(${c.toString})),
              i -> concat(substring(${c.toString}, 1, i - 1),
                          substring(${c.toString}, i + 1, 100)))""")
      val vocab = t(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .groupBy("w").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true) // feeds keys AND the in-vocab screen
      val vkeys = vocab
        .select(col("w"), col("cnt"),
          explode(concat(array(col("w")), del1(col("w")))).as("k"))
        .distinct()
      val typos = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(13)) === 0)
        .select(col("doc_id"),
          element_at(split(lower(col("text")), " "), 1).as("tok"))
        .withColumn("pos", (pmod(col("doc_id"), length(col("tok"))) + 1)
          .cast("int"))
        .select(col("doc_id"), concat(
          expr("substring(tok, 1, pos - 1)"),
          expr("substring(tok, pos + 1, 100)")).as("typo"))
        // a deletion can land on a real word — that's not a typo to correct;
        // sub-2-char leftovers are uncorrectable noise AND would hand
        // del1 an empty string (sequence(1, 0) phantom-index divergence)
        .filter(length(col("typo")) >= 2)
        .join(vocab.select(col("w").as("typo")), Seq("typo"), "left_anti")
        .groupBy("typo").agg(count(lit(1L)).as("n_docs"))
        .localCheckpoint(true) // feeds key explode AND the final join
      val tkeys = typos
        .select(col("typo"),
          explode(concat(array(col("typo")), del1(col("typo")))).as("k"))
        .distinct()
      val cand = tkeys.join(vkeys, "k")
        .select(col("typo"), col("w"), col("cnt")).distinct()
        .withColumn("dist", levenshtein(col("typo"), col("w")))
        .filter(col("dist") <= 1)
      val wBest = Window.partitionBy("typo")
        .orderBy(col("dist").asc, col("cnt").desc, col("w").asc)
      typos.join(
          cand.withColumn("rk", row_number().over(wBest))
            .filter(col("rk") === 1)
            .groupBy("typo").agg(max("w").as("best"),
              max("dist").cast("long").as("dist"),
              max("cnt").as("best_cnt")), Seq("typo"))
        .join(cand.groupBy("typo").agg(count(lit(1L)).as("n_cand")), "typo")
        .select(col("typo"), col("n_docs"), col("best"), col("dist"),
          col("best_cnt"), col("n_cand"))
        .orderBy("typo")
    },
    Some("""WITH vocab AS (
              SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents) GROUP BY 1),
            vkeys AS (
              SELECT DISTINCT w, cnt, k
              FROM (SELECT w, cnt,
                      unnest(list_prepend(w,
                        list_transform(generate_series(1, len(w)),
                          i -> substr(w, 1, CAST(i - 1 AS INT))
                            || substr(w, CAST(i + 1 AS INT), 100)))) AS k
                    FROM vocab)),
            raw_t AS (
              SELECT doc_id, string_split(lower(text), ' ')[1] AS tok
              FROM documents WHERE doc_id % 13 = 0),
            typod AS (
              SELECT doc_id,
                     substr(tok, 1, CAST(doc_id % len(tok) AS INT))
                       || substr(tok, CAST(doc_id % len(tok) + 2 AS INT), 100)
                       AS typo
              FROM raw_t),
            typos AS (
              SELECT typo, CAST(count(*) AS BIGINT) AS n_docs
              FROM typod
              WHERE len(typo) >= 2
                AND typo NOT IN (SELECT w FROM vocab)
              GROUP BY 1),
            tkeys AS (
              SELECT DISTINCT typo, k
              FROM (SELECT typo,
                      unnest(list_prepend(typo,
                        list_transform(generate_series(1, len(typo)),
                          i -> substr(typo, 1, CAST(i - 1 AS INT))
                            || substr(typo, CAST(i + 1 AS INT), 100)))) AS k
                    FROM typos)),
            cand AS (
              SELECT DISTINCT typo, w, cnt,
                     levenshtein(typo, w) AS dist
              FROM tkeys JOIN vkeys USING (k)
              WHERE levenshtein(typo, w) <= 1),
            best AS (
              SELECT typo, w AS best, CAST(dist AS BIGINT) AS dist,
                     cnt AS best_cnt
              FROM (SELECT typo, w, dist, cnt,
                      row_number() OVER (PARTITION BY typo
                        ORDER BY dist ASC, cnt DESC, w ASC) AS rk
                    FROM cand) WHERE rk = 1),
            nc AS (SELECT typo, CAST(count(*) AS BIGINT) AS n_cand
                   FROM cand GROUP BY 1)
            SELECT t.typo, t.n_docs, b.best, b.dist, b.best_cnt, nc.n_cand
            FROM typos t JOIN best b USING (typo) JOIN nc USING (typo)
            ORDER BY t.typo"""))

  override val queries: Map[String, GQuery] = Map(
    "q_text_symspell" -> qTextSymspell,
    "q_text_burrows" -> qTextBurrows,
    "q_vocab_prefix" -> qVocabPrefix,
    "q_text_boilerplate" -> qTextBoilerplate,
    "q_vocab_chao1" -> qVocabChao1,
    "q_vocab_goodturing" -> qVocabGoodturing,
    "q_vocab_skipgram" -> qVocabSkipgram,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_text_keyness" -> qTextKeyness,
    "q_text_textrank" -> qTextTextrank,
    "q_text_blocklist" -> qTextBlocklist,
    "q_eval_kappa" -> qEvalKappa,
    "q_text_watermark" -> qTextWatermark,
    "q_vocab_oov" -> qVocabOov,
    "q_text_compressibility" -> qTextCompressibility,
    "q_text_lm_kn" -> qTextLmKn,
    "q_vocab_pmi" -> qVocabPmi,
    "q_text_collocations" -> qTextCollocations,
    "q_text_burstiness" -> qTextBurstiness,
    "q_text_heaps" -> qTextHeaps,
    "q_text_stylometry" -> qTextStylometry,
    "q_text_phrase" -> qTextPhrase,
    "q_text_rake" -> qTextRake,
    "q_text_classifier_nb" -> qTextClassifierNb,
    "q_vocab_zipf" -> qVocabZipf,
    "q_text_hashing" -> qTextHashing,
    "q_quality_gopher" -> qQualityGopher,
    "q_text_lm_score" -> qTextLmScore,
    "q_text_bm25" -> qTextBm25,
    "q_text_levenshtein" -> qTextLevenshtein,
    "q_vocab_bigrams" -> qVocabBigrams,
    "q_vocab_topk" -> qVocabTopk,
    "q_text_scrub" -> qTextScrub,
    "q_text_tfidf" -> qTextTfidf,
    "q_text_rarity" -> qTextRarity,
    "q_text_repetition" -> qTextRepetition,
    "q_explode_unnest" -> qExplodeUnnest,
    "q_scalar_array" -> qScalarArrayFns,
    "q_text_stats" -> qTextStats,
    "q_text_shingle_dup" -> qTextShingleDup,
    "q_text_langid" -> qTextLangid,
    "q_text_quality" -> qTextQuality,
    "q_text_readability" -> qTextReadability,
    "q_text_tokens" -> qTextTokens,
    "q_text_fingerprint" -> qTextFingerprint)
}
