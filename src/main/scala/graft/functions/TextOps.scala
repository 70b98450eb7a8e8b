package graft.functions

import graft.{Query, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: tokenization +
  * top-k words (SURVEY.md §2.2 Q23), language ID, quality scoring, token
  * counting, and document fingerprinting (training-data-pipeline
  * mandate).
  *
  * Everything is built from codegen'd `functions._` — split / explode /
  * regexp — no UDFs, so the hot path stays inside WholeStageCodegen and
  * the only shuffles are the final aggregations, keyed by (lang, word) /
  * doc_id. Integer hashing is md5-derived (identical in Spark and
  * DuckDB) with all modular arithmetic kept under 2^63.
  */
object TextOps {

  /** Prime modulus for token hashing: fits products of two residues in
    * an int64 ((p-1)^2 < 2^63). */
  val P = 2147483647L

  /** Tokens of lower-cased text, exploded with 1-based position. The
    * empty-token filter runs after position assignment so Spark and
    * DuckDB agree on indices for texts with leading whitespace. */
  def tokensWithPos(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("pos0", "tok")))
      .filter(col("tok") =!= "")
      .withColumn("pos", col("pos0") + 1)
      .drop("pos0")

  /** md5-derived 60-bit token hash reduced mod P ([[graft.Canon.md5Residue]]). */
  def tokHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.Canon.md5Residue(c, P)

  /** 3-token shingles of each document — THE shingle definition shared
    * by every dedup/repetition path (window over position, space-joined
    * trigram). `distinct = true` for set semantics (Jaccard/MinHash),
    * false to keep multiplicity (repetition scoring). The per-doc
    * window sort is bounded by document length at any corpus size. */
  def shinglesOf(docs: DataFrame, distinct: Boolean): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val sh = tokensWithPos(docs)
      .withColumn("t2", lead(col("tok"), 1).over(w))
      .withColumn("t3", lead(col("tok"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t2"), col("t3")).as("sh"))
    if (distinct) sh.distinct() else sh
  }

  /** Q23 — tokenize + explode + top-20 words per language. */
  val q23 = Query(
    "q23_text_topwords",
    (s, dir) => {
      val counts = tokensWithPos(Tables.documents(s, dir))
        .groupBy("lang", "tok")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok").asc)
      counts
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("tok").as("word"), col("cnt"), col("rn"))
        .orderBy("lang", "rn")
    },
    Some("""WITH toks AS (
           |  SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |  FROM documents),
           |counts AS (
           |  SELECT lang, tok, COUNT(*) AS cnt FROM toks WHERE tok <> ''
           |  GROUP BY lang, tok)
           |SELECT lang, tok AS word, cnt,
           |       CAST(row_number() OVER w AS BIGINT) AS rn
           |FROM counts
           |WINDOW w AS (PARTITION BY lang ORDER BY cnt DESC, tok ASC)
           |QUALIFY row_number() OVER w <= 20
           |ORDER BY lang, rn""".stripMargin)
  )

  /** Language markers for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny and deterministic — the point is the operator
    * shape (token × marker join + per-doc argmax), not linguistic
    * accuracy. */
  val markers: Seq[(String, String)] = Seq(
    "the" -> "en", "and" -> "en", "of" -> "en", "is" -> "en",
    "el" -> "es", "los" -> "es", "de" -> "es", "que" -> "es",
    "der" -> "de", "die" -> "de", "und" -> "de", "das" -> "de",
    "le" -> "fr", "les" -> "fr", "est" -> "fr", "et" -> "fr")

  private def markerValuesSql: String =
    markers.map { case (t, l) => s"('$t', '$l')" }.mkString(", ")

  /** Language ID: count marker-token hits per candidate language, pick
    * the argmax (ties broken by language code). Docs with no hits are
    * 'und'. The marker table is broadcast — it is constant-sized at any
    * scale. */
  val q32 = Query(
    "q32_langid",
    (s, dir) => {
      import s.implicits._
      val m = broadcast(markers.toDF("tok", "cand"))
      val scores = tokensWithPos(Tables.documents(s, dir))
        .join(m, "tok")
        .groupBy("doc_id", "cand")
        .agg(count(lit(1)).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
      val best = scores.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
      Tables.documents(s, dir).select("doc_id", "lang")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("cand"), lit("und")).as("pred_lang"),
          coalesce(col("score"), lit(0L)).as("score"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
            |  FROM documents),
            |m(tok, cand) AS (VALUES $markerValuesSql),
            |scores AS (
            |  SELECT doc_id, cand, COUNT(*) AS score
            |  FROM toks JOIN m USING (tok)
            |  GROUP BY doc_id, cand),
            |best AS (
            |  SELECT doc_id, cand, score FROM scores
            |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand ASC) = 1)
            |SELECT d.doc_id, d.lang,
            |       COALESCE(b.cand, 'und') AS pred_lang,
            |       COALESCE(b.score, 0) AS score
            |FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
            |ORDER BY d.doc_id""".stripMargin)
  )

  /** Quality scoring: length / punctuation / stopword ratios per doc.
    * All ratios are int/int divisions done once in double, so both
    * engines produce bit-identical values. */
  val q33 = Query(
    "q33_quality_score",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars_m"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[.,!?;:]"), lit(0)))
            .cast("long").as("n_punct"),
          size(regexp_extract_all(lower(col("text")),
            lit("\\b(the|and|of|to|a|in)\\b"), lit(0)))
            .cast("long").as("n_stop"))
        .withColumn("punct_ratio",
          col("n_punct").cast("double") / col("n_chars_m").cast("double"))
        .withColumn("stop_ratio",
          col("n_stop").cast("double") / nullif(col("n_tokens"), lit(0)).cast("double"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS n_chars_m,
           |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
           |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in)\b')) AS BIGINT) AS n_stop,
           |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
           |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
           |  CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in)\b')) AS DOUBLE)
           |    / CAST(nullif(len(regexp_extract_all(text, '\S+')), 0) AS DOUBLE) AS stop_ratio
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  val q34 = Query(
    "q34_token_count",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(lower(col("text")),
            lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
            .cast("long").as("n_bpe_tokens"),
          length(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           |  CAST(length(text) AS BIGINT) AS n_chars_m
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Document fingerprint: position-weighted modular hash over the token
    * stream — sum_i (h(tok_i) * w(i)) mod P with w(i) = i*2654435761 mod
    * P. Order-sensitive (unlike a bag-of-words hash) yet expressible as
    * a plain aggregate: each term is independent, so the sum is
    * map-side-combinable and shuffle-light at any scale. */
  val q35 = Query(
    "q35_fingerprint",
    (s, dir) => {
      val toks = tokensWithPos(Tables.documents(s, dir))
      toks
        .withColumn("term",
          (tokHash(col("tok")) * ((col("pos") * lit(2654435761L)) % P)) % P)
        .groupBy("doc_id")
        .agg((sum(col("term")) % P).as("fingerprint"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, i AS pos, toks[i] AS tok FROM (
           |    SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           |    FROM documents) t, unnest(range(1, len(t.toks)+1)) u(i)
           |  WHERE toks[i] <> '')
           |SELECT doc_id,
           |  CAST(SUM((CAST(concat('0x', substr(md5(tok),1,15)) AS BIGINT) % 2147483647)
           |           * ((pos * 2654435761) % 2147483647) % 2147483647) AS BIGINT)
           |    % 2147483647 AS fingerprint
           |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** Q51 — repetition scoring: 1 − distinct/total 3-token shingles per
    * document. High values flag boilerplate/looped text — a standard
    * training-data quality gate. Unlike the dedup paths this keeps
    * duplicate shingles, so it is a pure per-doc aggregate (the per-doc
    * window sort is bounded by document length at any corpus size).
    */
  val q51 = Query(
    "q51_repetition",
    (s, dir) => {
      val sh = shinglesOf(Tables.documents(s, dir), distinct = false)
      sh.groupBy("doc_id")
        .agg(count(lit(1)).as("n_total"),
          countDistinct(col("sh")).as("n_distinct"))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_total").cast("double"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, i AS pos, toks[i] AS tok FROM (
           |    SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
           |    FROM documents) t, unnest(range(1, len(t.toks)+1)) u(i)
           |  WHERE toks[i] <> ''),
           |sh AS (
           |  SELECT doc_id, concat(tok, ' ', t2, ' ', t3) AS sh FROM (
           |    SELECT doc_id, tok,
           |           lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
           |           lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
           |    FROM toks) x
           |  WHERE t3 IS NOT NULL)
           |SELECT doc_id, COUNT(*) AS n_total, COUNT(DISTINCT sh) AS n_distinct,
           |       1.0 - CAST(COUNT(DISTINCT sh) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rep_ratio
           |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** Q52 — corpus composition stats per (source, lang): doc counts,
    * exact character totals, mean length, whitespace-token totals — the
    * mixture report every corpus build starts from. One combinable
    * aggregate, shuffle keyed on the group columns. */
  val q52 = Query(
    "q52_corpus_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source", "lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
            .as("avg_chars"),
          sum(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long")).as("sum_tokens"))
        .orderBy("source", "lang"),
    Some("""SELECT source, lang, COUNT(*) AS n_docs,
           |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |       CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_chars,
           |       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens
           |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin)
  )

  /** Q53 — TF-IDF top-5 terms per document, the textbook
    * tf · ln(N/df). `ln` is the one op here without a bit-exactness
    * guarantee across math libraries, so the score is rounded to 6
    * decimals on BOTH engines before ranking and output — a ≤1-ulp
    * (~1e-16 relative) ln discrepancy cannot move a round(·, 6) result
    * unless the true value sits within ~1e-16 of a rounding boundary,
    * which the three fixture scales are verified not to do. tf and df
    * are one combinable aggregate each; the per-doc top-k is a bounded
    * window.
    */
  val q53 = Query(
    "q53_tfidf",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = tokensWithPos(docs)
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df_docs"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("tok").asc)
      tf.join(broadcast(df), "tok")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df_docs").cast("double")), 6))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("tok").as("term"), col("tf"),
          col("df_docs"), col("tfidf"), col("rn"))
        .orderBy("doc_id", "rn")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |  FROM documents),
           |tf AS (
           |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE tok <> ''
           |  GROUP BY doc_id, tok),
           |df AS (SELECT tok, COUNT(*) AS df_docs FROM tf GROUP BY tok),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents)
           |SELECT doc_id, tok AS term, tf, df_docs,
           |       round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE)), 6) AS tfidf,
           |       CAST(row_number() OVER w AS BIGINT) AS rn
           |FROM tf JOIN df USING (tok) CROSS JOIN n
           |WINDOW w AS (PARTITION BY doc_id
           |             ORDER BY round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df_docs AS DOUBLE)), 6) DESC,
           |                      tok ASC)
           |QUALIFY row_number() OVER w <= 5
           |ORDER BY doc_id, rn""".stripMargin)
  )

  /** Q54 — inverted index: term → document frequency + the sorted
    * posting list (comma-joined doc ids). Postings are collected per
    * term after a distinct — at 100 TB the groupBy key is the term, the
    * one dimension this corpus bounds; per-term lists of truly unbounded
    * cardinality would switch to the bucketed layout of
    * [[graft.sources.Warehouse]].
    */
  val q54 = Query(
    "q54_inverted_index",
    (s, dir) =>
      tokensWithPos(Tables.documents(s, dir))
        .select(col("tok").as("term"), col("doc_id")).distinct()
        .groupBy("term")
        .agg(
          count(lit(1)).as("df_docs"),
          array_join(
            transform(array_sort(collect_set(col("doc_id"))),
              _.cast("string")), ",").as("postings"))
        .orderBy("term"),
    Some("""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |  FROM documents),
           |dt AS (SELECT DISTINCT tok AS term, doc_id FROM toks WHERE tok <> '')
           |SELECT term, COUNT(*) AS df_docs,
           |       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
           |FROM dt GROUP BY term ORDER BY term""".stripMargin)
  )

  /** Per-source sampling rates (per-mille) for the corpus-mixture
    * sample — the knob a training run turns to rebalance sources. */
  val mixtureMille: Seq[(String, Int)] =
    Seq("src0" -> 800, "src1" -> 500, "src2" -> 250, "src3" -> 100, "src4" -> 50)

  /** Q67 — deterministic mixture sampling: each source is downsampled
    * to its target rate by an md5-residue test on the doc id, so the
    * sample is reproducible across runs, engines, and partitionings
    * (rand() is none of those). The rates table is constant-sized →
    * broadcast; the filter is pure map-side work. Sources without an
    * explicit rate fall back to a 20‰ background rate (left join +
    * coalesce) so the whole corpus stays represented.
    */
  val q67 = Query(
    "q67_mixture_sample",
    (s, dir) => {
      import s.implicits._
      val rates = broadcast(mixtureMille.toDF("source", "w0"))
      Tables.documents(s, dir)
        .join(rates, Seq("source"), "left")
        .withColumn("w_mille", coalesce(col("w0"), lit(20)))
        .withColumn("residue",
          graft.Canon.md5Residue(concat(lit("mix:"), col("doc_id")), 1000))
        .filter(col("residue") < col("w_mille"))
        .select(col("doc_id"), col("source"), col("lang"),
          col("w_mille").cast("long").as("w_mille"), col("residue"))
        .orderBy("doc_id")
    },
    Some(s"""WITH rates(source, w0) AS (VALUES ${
             mixtureMille.map { case (s0, w) => s"('$s0', $w)" }.mkString(", ")}),
            |r AS (
            |  SELECT d.doc_id, d.source, d.lang, COALESCE(rates.w0, 20) AS w_mille,
            |         CAST(concat('0x', substr(md5(concat('mix:', d.doc_id)), 1, 15)) AS BIGINT) % 1000 AS residue
            |  FROM documents d LEFT JOIN rates USING (source))
            |SELECT doc_id, source, lang, CAST(w_mille AS BIGINT) AS w_mille, residue
            |FROM r WHERE residue < w_mille
            |ORDER BY doc_id""".stripMargin)
  )

  /** Q73 — PII redaction, the scrub every training corpus runs before
    * release. The fixture text is synthetic word-salad with no real PII,
    * so the query first composes a contact line deterministically from
    * event columns (same construction in the oracle — standard practice
    * for testing redaction: known-planted PII, verified removal), then
    * scrubs emails → `<EMAIL>`, phone numbers → `<PHONE>`, IPv4
    * addresses → `<IP>` and counts each kind. Order matters: emails
    * first (they contain dots an IP pattern could nibble), then phones,
    * then bare IPs.
    *
    * All three patterns use only the regex subset with identical
    * semantics in Java (Spark) and RE2 (DuckDB): character classes,
    * `+`/`{n}` quantifiers, no backrefs/lookarounds. Per-row regex work
    * is embarrassingly parallel — no shuffle at all until the final
    * order-by; a 20-way md5 sample keeps the checked output compact.
    */
  val q73 = Query(
    "q73_pii_scrub",
    (s, dir) => {
      val emailRe = "[a-z0-9]+@[a-z0-9.]+[.][a-z]+"
      val phoneRe = "[+]1-555-[0-9]{4}"
      val ipRe = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      Tables.events(s, dir)
        .filter(graft.Canon.md5Residue(concat(lit("pii:"), col("event_id")), 20) === 0)
        .withColumn("raw",
          concat(lit("user"), col("user_id"), lit(" wrote from user"),
            col("user_id"), lit("@example.com or +1-555-"),
            lpad(pmod(col("event_id"), lit(10000)).cast("string"), 4, "0"),
            lit(" at 10."), pmod(col("user_id"), lit(256)),
            lit(".0."), pmod(col("event_id"), lit(256)),
            lit(" re: "), col("event_type")))
        .withColumn("n_email", regexp_count(col("raw"), lit(emailRe)))
        .withColumn("n_phone", regexp_count(col("raw"), lit(phoneRe)))
        .withColumn("n_ip", regexp_count(col("raw"), lit(ipRe)))
        .withColumn("clean",
          regexp_replace(
            regexp_replace(
              regexp_replace(col("raw"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>"),
            ipRe, "<IP>"))
        .select(col("event_id"), col("clean"),
          col("n_email").cast("long").as("n_email"),
          col("n_phone").cast("long").as("n_phone"),
          col("n_ip").cast("long").as("n_ip"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (
           |  SELECT event_id,
           |         concat('user', user_id, ' wrote from user', user_id,
           |                '@example.com or +1-555-',
           |                lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
           |                ' at 10.', user_id % 256, '.0.', event_id % 256,
           |                ' re: ', event_type) AS raw
           |  FROM events
           |  WHERE CAST(concat('0x', substr(md5(concat('pii:', event_id)), 1, 15)) AS BIGINT) % 20 = 0)
           |SELECT event_id,
           |       regexp_replace(
           |         regexp_replace(
           |           regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g'),
           |           '[+]1-555-[0-9]{4}', '<PHONE>', 'g'),
           |         '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS clean,
           |       CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+[.][a-z]+')) AS BIGINT) AS n_email,
           |       CAST(len(regexp_extract_all(raw, '[+]1-555-[0-9]{4}')) AS BIGINT) AS n_phone,
           |       CAST(len(regexp_extract_all(raw, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS BIGINT) AS n_ip
           |FROM p ORDER BY event_id""".stripMargin)
  )

  /** Q77 — deterministic train/val/test split assignment: every doc
    * lands in exactly one split by a content-independent hash of its id
    * (90/5/5). Hash-based (not random) so the split is reproducible
    * across runs, engines and scale-outs, and uniform within every
    * language stratum for free. Pure map-side — no shuffle at all until
    * the verification ORDER BY; the 100 TB form is a projection. */
  val q77 = Query(
    "q77_split_assign",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", graft.Canon.md5Residue(col("doc_id").cast("string"), 100))
        .withColumn("split",
          when(col("bucket") < 90, "train")
            .when(col("bucket") < 95, "val")
            .otherwise("test"))
        .select("doc_id", "lang", "bucket", "split")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang,
           |       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket,
           |       CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'train'
           |            WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 95 THEN 'val'
           |            ELSE 'test' END AS split
           |FROM documents ORDER BY doc_id""".stripMargin)
  )

  /** Q78 — sequence packing: assign docs to fixed-budget (512-token)
    * training sequences by running token offset, greedy in doc_id order
    * within a (lang, shard) stripe; docs may span a sequence boundary
    * (offset carries over), exactly like concat-then-chunk pretraining
    * ingestion. Packing is inherently serial in stripe order, so the
    * scale unit is the stripe, not the corpus: 8 hash shards per lang
    * here — thousands at 100 TB — keep every window partition bounded
    * while the assignment stays fully deterministic. One shuffle on
    * (lang, shard). */
  val q78 = Query(
    "q78_seq_pack",
    (s, dir) => {
      val budget = 512L
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.Canon.md5Residue(col("doc_id").cast("string"), 8).as("shard"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens"))
        .withColumn("end_tok", sum(col("n_tokens")).over(w))
        .withColumn("start_tok", col("end_tok") - col("n_tokens"))
        .select(col("doc_id"), col("lang"), col("shard"),
          col("n_tokens"),
          // integer div, not `/`+cast: Spark's double-divide truncates
          // but DuckDB's double->BIGINT cast rounds (315/512 -> 1)
          expr(s"start_tok div $budget").as("seq_id"),
          (col("start_tok") % budget).as("seq_offset"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang,
           |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |o AS (
           |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
           |                 ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
           |  FROM t)
           |SELECT doc_id, lang, shard, n_tokens,
           |       CAST(start_tok // 512 AS BIGINT) AS seq_id,
           |       start_tok % 512 AS seq_offset
           |FROM o ORDER BY doc_id""".stripMargin)
  )

  /** Q79 — adjacent-pair (bigram) frequency: the statistic the first
    * BPE merge step maximizes, per language — top-10 token bigrams with
    * deterministic count/alpha tiebreak. Same explode→combinable-agg
    * shape as Q23: the pair construction is a per-doc bounded window,
    * the count is map-side partial-aggregated on (lang, pair), and only
    * per-lang top-k rows survive to the final window. */
  val q79 = Query(
    "q79_bpe_pairs",
    (s, dir) => {
      val wDoc = Window.partitionBy("doc_id").orderBy("pos")
      val pairs = tokensWithPos(Tables.documents(s, dir))
        .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
        .filter(col("nxt").isNotNull)
        .groupBy(col("lang"), concat_ws(" ", col("tok"), col("nxt")).as("pair"))
        .agg(count(lit(1)).as("n"))
      val wTop = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("pair").asc)
      pairs
        .withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("pair"), col("n"), col("rk").cast("long").as("rk"))
        .orderBy("lang", "rk")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, lang, pos, tok FROM (
           |    SELECT doc_id, lang,
           |           generate_subscripts(string_split_regex(lower(text), '\s+'), 1) AS pos,
           |           unnest(string_split_regex(lower(text), '\s+')) AS tok
           |    FROM documents) WHERE tok <> ''),
           |pairs AS (
           |  SELECT lang, concat(tok, ' ', lead(tok) OVER (PARTITION BY doc_id ORDER BY pos)) AS pair
           |  FROM toks
           |  QUALIFY lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL),
           |cnt AS (SELECT lang, pair, COUNT(*) AS n FROM pairs GROUP BY lang, pair)
           |SELECT lang, pair, n,
           |       CAST(rk AS BIGINT) AS rk
           |FROM (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY n DESC, pair ASC) AS rk
           |      FROM cnt)
           |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)
  )

  /** Q80 — composite quality-filter verdict (the Gopher-rule shape):
    * per-doc signals → named boolean rules → one keep flag. The signals
    * are exact integer ratios (identical IEEE doubles in both engines);
    * the distinct-token ratio needs one shuffle keyed on doc_id, the
    * rest is map-side. At 100 TB this is the cheap screen that runs
    * BEFORE any pairwise dedup — each rule is independently auditable,
    * which is why they're materialized instead of folded into `keep`. */
  val q80 = Query(
    "q80_quality_verdict",
    (s, dir) => {
      val base = Tables.documents(s, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("n_glyphs"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|and|of|to|a|in)\\b"), lit(0))).cast("long").as("n_stop"))
      val distincts = tokensWithPos(Tables.documents(s, dir))
        .groupBy("doc_id")
        .agg(countDistinct(col("tok")).as("n_distinct"))
      base.join(distincts, Seq("doc_id"), "left")
        .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
        .withColumn("mean_tok_len",
          col("n_glyphs").cast("double") / nullif(col("n_tokens"), lit(0)).cast("double"))
        .withColumn("distinct_ratio",
          col("n_distinct").cast("double") / nullif(col("n_tokens"), lit(0)).cast("double"))
        .withColumn("r_len", col("n_tokens") >= 10 && col("n_tokens") <= 100000)
        .withColumn("r_meanlen", col("mean_tok_len") >= 2.0 && col("mean_tok_len") <= 12.0)
        .withColumn("r_stop", col("n_stop") >= 1)
        .withColumn("r_rep", col("distinct_ratio") >= 0.1)
        .withColumn("keep",
          col("r_len") && col("r_meanlen") && col("r_stop") && col("r_rep"))
        .select("doc_id", "n_tokens", "mean_tok_len", "distinct_ratio",
          "n_stop", "r_len", "r_meanlen", "r_stop", "r_rep", "keep")
        .orderBy("doc_id")
    },
    Some("""WITH base AS (
           |  SELECT doc_id,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
           |         CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) AS n_glyphs,
           |         CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in)\b')) AS BIGINT) AS n_stop
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |  FROM documents),
           |d AS (
           |  SELECT doc_id, COUNT(DISTINCT tok) AS n_distinct
           |  FROM toks WHERE tok <> '' GROUP BY doc_id),
           |j AS (
           |  SELECT b.*, COALESCE(d.n_distinct, 0) AS n_distinct,
           |         CAST(b.n_glyphs AS DOUBLE) / CAST(NULLIF(b.n_tokens, 0) AS DOUBLE) AS mean_tok_len,
           |         CAST(COALESCE(d.n_distinct, 0) AS DOUBLE) / CAST(NULLIF(b.n_tokens, 0) AS DOUBLE) AS distinct_ratio
           |  FROM base b LEFT JOIN d USING (doc_id))
           |SELECT doc_id, n_tokens, mean_tok_len, distinct_ratio, n_stop,
           |       (n_tokens >= 10 AND n_tokens <= 100000) AS r_len,
           |       (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0) AS r_meanlen,
           |       (n_stop >= 1) AS r_stop,
           |       (distinct_ratio >= 0.1) AS r_rep,
           |       ((n_tokens >= 10 AND n_tokens <= 100000)
           |        AND (mean_tok_len >= 2.0 AND mean_tok_len <= 12.0)
           |        AND (n_stop >= 1) AND (distinct_ratio >= 0.1)) AS keep
           |FROM j ORDER BY doc_id""".stripMargin)
  )

  /** Q81 — packed-sequence materialization (the step after Q78's
    * assignment): concatenate each training sequence's docs in doc_id
    * order into the actual text the tokenizer will see. Output carries
    * the concatenation's length + md5 — hash-checkable without shipping
    * megabyte strings through the harness. Shard 0 only here; at scale
    * every (lang, shard) stripe materializes independently — the
    * groupBy is keyed on (lang, seq_id) within the stripe and the
    * in-group sort is bounded by sequence budget, so no partition ever
    * holds more than a stripe. */
  val q81 = Query(
    "q81_pack_materialize",
    (s, dir) => {
      val assigned = q78.build(s, dir).filter(col("shard") === 0)
        .select("doc_id", "lang", "seq_id")
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      assigned.join(docs, "doc_id")
        .groupBy("lang", "seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          array_sort(collect_list(struct(col("doc_id"), col("text"))))
            .as("parts"))
        .withColumn("seq_text",
          array_join(transform(col("parts"), p => p.getField("text")), " "))
        .select(col("lang"), col("seq_id"), col("n_docs"),
          length(col("seq_text")).cast("long").as("text_len"),
          md5(col("seq_text")).as("fp"))
        .orderBy("lang", "seq_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang, text,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           |  FROM documents
           |  WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 = 0),
           |o AS (
           |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
           |                 ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
           |  FROM t),
           |a AS (SELECT doc_id, lang, text,
           |             CAST(start_tok // 512 AS BIGINT) AS seq_id FROM o)
           |SELECT lang, seq_id, COUNT(*) AS n_docs,
           |       CAST(length(string_agg(text, ' ' ORDER BY doc_id)) AS BIGINT) AS text_len,
           |       md5(string_agg(text, ' ' ORDER BY doc_id)) AS fp
           |FROM a GROUP BY lang, seq_id ORDER BY lang, seq_id""".stripMargin)
  )

  /** Q85 — per-domain corpus stats: the crawl-health dashboard query
    * every web-corpus pipeline runs first (docs / languages / bytes per
    * registered host). URLs are the shared deterministic synthesis
    * ([[graft.Canon.noisyUrl]], fixture has no URL column); the host is
    * extracted with one codegen'd regexp.
    *
    * Scale shape: per-row regexp (no shuffle) + ONE hash aggregation
    * keyed by domain. Domain counts are heavy-tailed at crawl scale
    * (a few hosts dominate); the aggregation is partial-combinable so
    * the skew lands on the combiner, not the shuffle — same plan shape
    * at 100 TB.
    */
  val q85 = Query(
    "q85_domain_stats",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("url",
          graft.Canon.noisyUrl(col("doc_id"), col("source"), col("lang")))
        .withColumn("domain",
          regexp_extract(lower(col("url")), "^https?://(www[.])?([^/]+)", 2))
        .groupBy("domain")
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("domain"),
    Some(s"""WITH noisy AS (
           |  SELECT doc_id, lang, n_chars, ${graft.Canon.noisyUrlSql} AS url
           |  FROM documents)
           |SELECT regexp_extract(lower(url), '^https?://(www[.])?([^/]+)', 2) AS domain,
           |       COUNT(*) AS n_docs,
           |       COUNT(DISTINCT lang) AS n_langs,
           |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |       MIN(doc_id) AS first_doc
           |FROM noisy GROUP BY 1 ORDER BY domain""".stripMargin)
  )

  /** Q86 — overlapping document chunking: split each document into
    * 50-token windows with stride 40 (10-token overlap) — the context-
    * window packing shape for embedding models and retrieval ingest.
    * Emits per-chunk token offsets + an md5 content fingerprint so the
    * oracle verifies the chunk TEXT, not just the counts.
    *
    * Scale shape: pure map-side — tokenize, explode a bounded chunk
    * index (`sequence`), `slice` the token array. No shuffle at all
    * before the deterministic output sort; at 100 TB this is the ideal
    * embarrassingly-parallel shape. The per-doc fan-out is
    * ceil(max(n-50,0)/40)+1 ≈ n/40, bounded by document length.
    */
  val q86 = Query(
    "q86_doc_chunk",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
        .withColumn("i",
          explode(sequence(lit(0L),
            ceil(greatest(col("n") - 50L, lit(0L)) / 40.0).cast("long"))))
        .withColumn("ck",
          slice(col("toks"), (col("i") * 40 + 1).cast("int"), lit(50)))
        .select(col("doc_id"), col("i").as("chunk_id"),
          (col("i") * 40 + 1).as("start_tok"),
          size(col("ck")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("ck"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, toks, n,
           |         unnest(generate_series(0,
           |           CAST(ceil(greatest(n - 50, 0) / 40.0) AS BIGINT))) AS i
           |  FROM t WHERE n > 0)
           |SELECT doc_id, i AS chunk_id, i*40 + 1 AS start_tok,
           |       CAST(len(toks[i*40+1 : least(i*40+50, n)]) AS BIGINT) AS n_tok,
           |       md5(array_to_string(toks[i*40+1 : least(i*40+50, n)], ' ')) AS chunk_md5
           |FROM c ORDER BY doc_id, chunk_id""".stripMargin)
  )

  /** Greedy left-to-right non-overlapping application of one BPE merge
    * (a, b) → "a b" over a token sequence — the per-document kernel of
    * [[learnBpeMerges]]. Imperative by nature (each application consumes
    * two positions, so neighbors can't be decided independently); runs
    * inside a typed map, bounded by document length. */
  def mergeOnce(ts: IndexedSeq[String], a: String, b: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < ts.length) {
      if (i + 1 < ts.length && ts(i) == a && ts(i + 1) == b) {
        out += a + " " + b; i += 2
      } else { out += ts(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Iterative BPE merge learning at the token level (q79 computed the
    * FIRST merge statistic; this runs the actual loop): each round
    * counts adjacent pairs per language (one partial-combinable
    * aggregation over the exploded pair stream), picks the
    * deterministic argmax (freq desc, then pair asc), broadcasts the
    * ≤|langs| winning merges, and applies them map-side. Returns the
    * learned merge table (lang, step, t1, t2, freq).
    *
    * Scale shape per round: one shuffle keyed by (lang, pair) + a
    * map-side rewrite; the driver holds only one merge per language per
    * round (bounded model state, like the IVF centroids). Rounds =
    * vocabulary merges wanted — fixed and small. Each round caches its
    * token state and unpersists the previous one so lineage stays flat.
    */
  def learnBpeMerges(docs: DataFrame, steps: Int): Seq[(String, Int, String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var cur = docs
      .select(col("lang"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .as[(String, Seq[String])]
    cur.persist()
    val learned = scala.collection.mutable.ArrayBuffer[(String, Int, String, String, Long)]()
    for (step <- 1 to steps) {
      val w = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
      val best = cur
        .flatMap { case (lang, ts) =>
          ts.iterator.zip(ts.iterator.drop(1)).map(p => (lang, p._1, p._2))
        }
        .toDF("lang", "a", "b")
        .groupBy("lang", "a", "b").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("lang", "a", "b", "cnt")
        .collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3))))
        .toMap
      best.toSeq.sortBy(_._1).foreach { case (lang, (a, b, cnt)) =>
        learned += ((lang, step, a, b, cnt))
      }
      val bc = spark.sparkContext.broadcast(best)
      val prev = cur
      cur = prev.map { case (lang, ts) =>
        bc.value.get(lang) match {
          case Some((a, b, _)) => (lang, mergeOnce(ts.toIndexedSeq, a, b))
          case None => (lang, ts)
        }
      }
      cur.persist()
      cur.count() // materialize before dropping the parent's cache
      prev.unpersist()
    }
    cur.unpersist()
    learned.toSeq
  }

  /** The DuckDB restatement of one [[learnBpeMerges]] round: from
    * token state `s<i>` (doc_id, lang, pos, tok), derive the per-lang
    * argmax merge `m<i>` and the post-application state `s<i+1>`.
    * The greedy non-overlapping left-to-right application (mergeOnce's
    * skip-by-two scan) is the gaps-and-islands PARITY trick:
    * candidates at consecutive positions can only chain when a = b
    * (overlap needs tok[p+1] = a AND = b), and within a chain exactly
    * the odd-ranked candidates fire. Everything is exact string/count
    * arithmetic — no floats anywhere — so the whole loop hash-gates. */
  private def bpeStepSql(i: Int): String =
    s"""p$i AS (
       |  SELECT doc_id, lang, pos, tok,
       |         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
       |  FROM s$i),
       |cnt$i AS (
       |  SELECT lang, tok AS a, nxt AS b, COUNT(*) AS cnt
       |  FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
       |m$i AS (
       |  SELECT lang, a, b, cnt FROM cnt$i
       |  QUALIFY row_number() OVER (PARTITION BY lang
       |    ORDER BY cnt DESC, a ASC, b ASC) = 1),
       |cand$i AS (
       |  SELECT p.doc_id, p.pos
       |  FROM p$i p JOIN m$i m
       |    ON p.lang = m.lang AND p.tok = m.a AND p.nxt = m.b),
       |appl$i AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |           row_number() OVER (PARTITION BY doc_id, isl
       |             ORDER BY pos) AS ri
       |    FROM (
       |      SELECT doc_id, pos,
       |             pos - row_number() OVER (PARTITION BY doc_id
       |               ORDER BY pos) AS isl
       |      FROM cand$i) c) r
       |  WHERE ri % 2 = 1),
       |s${i + 1} AS (
       |  SELECT t.doc_id, t.lang,
       |         row_number() OVER (PARTITION BY t.doc_id
       |           ORDER BY t.pos) AS pos,
       |         CASE WHEN a.pos IS NOT NULL THEN t.tok || ' ' || t.nxt
       |              ELSE t.tok END AS tok
       |  FROM p$i t
       |  LEFT JOIN appl$i a ON a.doc_id = t.doc_id AND a.pos = t.pos
       |  LEFT JOIN appl$i g ON g.doc_id = t.doc_id AND g.pos = t.pos - 1
       |  WHERE g.pos IS NULL)""".stripMargin

  private val bpeS1Sql =
    """s1 AS (
      |  SELECT doc_id, lang, CAST(u.i AS BIGINT) AS pos,
      |         t.toks[u.i] AS tok
      |  FROM (SELECT doc_id, lang,
      |               regexp_extract_all(lower(text), '\S+') AS toks
      |        FROM documents) t,
      |       unnest(range(1, len(t.toks) + 1)) u(i))""".stripMargin

  /** Q93 — the learned BPE merge table: 3 rounds of the iterative
    * pair-count → argmax → map-side-apply loop per language. The loop
    * is deterministic given the corpus, so it hash-gates against a
    * DuckDB restatement with the rounds unrolled ([[bpeStepSql]]);
    * `TextDedupSpec` additionally verifies the loop against a
    * hand-computed fixture and holds the shrinkage invariant. */
  val q93 = Query(
    "q93_bpe_learn",
    (s, dir) => {
      val merges = learnBpeMerges(Tables.documents(s, dir), 3)
      s.createDataFrame(merges).toDF("lang", "step", "t1", "t2", "freq")
        .orderBy("lang", "step")
    },
    Some(s"""WITH $bpeS1Sql,
            |${bpeStepSql(1)},
            |${bpeStepSql(2)},
            |${bpeStepSql(3)}
            |SELECT lang, step, t1, t2, freq FROM (
            |  SELECT lang, 1 AS step, a AS t1, b AS t2, cnt AS freq FROM m1
            |  UNION ALL
            |  SELECT lang, 2 AS step, a AS t1, b AS t2, cnt AS freq FROM m2
            |  UNION ALL
            |  SELECT lang, 3 AS step, a AS t1, b AS t2, cnt AS freq FROM m3) u
            |ORDER BY lang, step""".stripMargin)
  )

  /** Q95 — bigram language-model quality scoring (the CCNet-style
    * perplexity filter): train add-one-smoothed per-language bigram
    * probabilities on the corpus itself, then score every document by
    * its mean bigram log-probability. Low scores flag gibberish /
    * boilerplate; in a real pipeline the model trains on a trusted
    * corpus (e.g. Wikipedia) and scores the crawl — the dataflow shape
    * is identical.
    *
    * Model: p(w2|w1, lang) = (c(w1,w2)+1) / (c(w1·)+V_lang), where
    * c(w1·) counts bigram contexts and V is the language vocabulary.
    *
    * Cross-engine exactness: `ln` is rounded to 6 decimals per bigram
    * (the q53 rule — a ≤1-ulp libm discrepancy cannot move round(·,6))
    * and summed as DECIMAL(18,6), so the per-doc sum is exact and
    * order-independent in both engines. The mean is the raw IEEE
    * division of that exact sum by the count — deliberately NOT
    * re-rounded (sf0.1 put one doc's sum/n exactly on a round(·,6)
    * half-way point, where the engines' rounding directions differ).
    *
    * Scale shape: counts are two partial-combinable aggregations keyed
    * (lang,w1,w2)/(lang,w1); scoring is one shuffle join of the doc
    * bigram stream against the model on (lang,w1,w2) — both sides
    * shuffle-partition on the same key, no broadcast of corpus-sized
    * state, no driver materialization. Docs with <2 tokens have no
    * bigrams and are excluded by construction (declared semantics).
    */
  val q95 = Query(
    "q95_ngram_lm",
    (s, dir) => {
      val toks = tokensWithPos(Tables.documents(s, dir))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val bigrams = toks
        .withColumn("w2", lead(col("tok"), 1).over(w))
        .filter(col("w2").isNotNull)
        .select(col("doc_id"), col("lang"), col("tok").as("w1"), col("w2"))
      val c12 = bigrams.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy("lang", "w1").agg(sum(col("c12")).as("c1"))
      val vocab = toks.groupBy("lang")
        .agg(countDistinct(col("tok")).as("v"))
      val model = c12
        .join(c1, Seq("lang", "w1"))
        .join(broadcast(vocab), Seq("lang"))
        .withColumn("logp",
          round(log((col("c12") + 1).cast("double") /
            (col("c1") + col("v")).cast("double")), 6)
            .cast("decimal(18,6)"))
        .select("lang", "w1", "w2", "logp")
      bigrams.join(model, Seq("lang", "w1", "w2"))
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("logp")).cast("decimal(18,6)").cast("double").as("sum_logp"))
        .withColumn("avg_logp",
          col("sum_logp") / col("n_bigrams").cast("double"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, lang, i AS pos, toks[i] AS tok FROM (
           |    SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks
           |    FROM documents) t, unnest(range(1, len(t.toks)+1)) u(i)
           |  WHERE toks[i] <> ''),
           |bg AS (
           |  SELECT doc_id, lang, tok AS w1,
           |         lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           |  FROM toks QUALIFY w2 IS NOT NULL),
           |c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM bg GROUP BY lang, w1, w2),
           |c1 AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY lang, w1),
           |vocab AS (SELECT lang, COUNT(DISTINCT tok) AS v FROM toks GROUP BY lang),
           |model AS (
           |  SELECT c12.lang, w1, w2,
           |         CAST(round(ln(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 6)
           |              AS DECIMAL(18,6)) AS logp
           |  FROM c12 JOIN c1 USING (lang, w1) JOIN vocab USING (lang))
           |SELECT doc_id, lang, COUNT(*) AS n_bigrams,
           |       CAST(CAST(SUM(logp) AS DECIMAL(18,6)) AS DOUBLE) AS sum_logp,
           |       CAST(CAST(SUM(logp) AS DECIMAL(18,6)) AS DOUBLE)
           |         / CAST(COUNT(*) AS DOUBLE) AS avg_logp
           |FROM bg JOIN model USING (lang, w1, w2)
           |GROUP BY doc_id, lang
           |ORDER BY doc_id""".stripMargin)
  )

  /** Q106 — BPE encode: apply the q93-learned merge table to every
    * document (merges in step order, greedy left-to-right within each
    * step — the exact apply rule the learner used), emitting per-doc
    * raw/encoded token counts, compression ratio, and an md5 digest of
    * the encoded unit stream so tests pin the exact encoding, not just
    * its length. Together with q93 this is the full tokenizer-train +
    * tokenizer-apply loop a pretraining pipeline runs.
    *
    * Scale shape: the merge table is bounded model state (steps ×
    * languages) broadcast to executors; encoding is pure map-side over
    * the document stream — the ideal 100 TB shape. Hash-gated like
    * q93: the oracle unrolls the learner rounds and reads the final
    * corpus state as the encoding (the two are the same computation).
    */
  /** Per-doc BPE apply off the freshly-learned merge table: raw \S+
    * tokens and encoded units per (doc_id, lang) — the shared
    * q106/q244 front half (learn → broadcast model → map-side greedy
    * apply in step order). Factored so the merge-ordering and
    * tokenizer rules cannot drift between the two gates that share
    * the unrolled-round oracle chain. */
  private def encodedDocs(s: SparkSession, docs: DataFrame, rounds: Int)
      : org.apache.spark.sql.Dataset[(Long, String, Seq[String], Seq[String])] = {
    import s.implicits._
    val merges = learnBpeMerges(docs, rounds)
    val byLang: Map[String, Seq[(String, String)]] =
      merges.groupBy(_._1).map { case (l, ms) =>
        l -> ms.sortBy(_._2).map(m => (m._3, m._4))
      }
    val bc = s.sparkContext.broadcast(byLang)
    docs
      .select(col("doc_id"), col("lang"),
        regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0)).as("toks"))
      .as[(Long, String, Seq[String])]
      .map { case (id, lang, toks) =>
        val encoded = bc.value.getOrElse(lang, Nil)
          .foldLeft(toks.toIndexedSeq) { case (ts, (a, b)) => mergeOnce(ts, a, b) }
        (id, lang, toks, encoded: Seq[String])
      }
  }

  val q106 = Query(
    "q106_bpe_encode",
    (s, dir) => {
      import s.implicits._
      encodedDocs(s, Tables.documents(s, dir), 3)
        .map { case (id, lang, toks, encoded) =>
          // "\n" separator: tokens are \S+ runs (merged units join
          // with ' '), so newline can never appear inside a unit - and
          // unlike NUL it round-trips through the DuckDB oracle's
          // string_agg(chr(10)) for the hash gate
          val digest = java.security.MessageDigest.getInstance("MD5")
            .digest(encoded.mkString("\n").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (id, lang, toks.length.toLong, encoded.length.toLong,
            if (toks.isEmpty) 1.0 else encoded.length.toDouble / toks.length,
            digest)
        }
        .toDF("doc_id", "lang", "n_raw", "n_encoded", "ratio", "digest")
        .orderBy("doc_id")
    },
    // the corpus state after the 3 unrolled learner rounds IS the
    // encoded corpus (the learner applies each merge globally), so the
    // oracle reuses the q93 CTE chain and aggregates s4 per document
    Some(s"""WITH $bpeS1Sql,
            |${bpeStepSql(1)},
            |${bpeStepSql(2)},
            |${bpeStepSql(3)},
            |enc AS (
            |  SELECT doc_id, COUNT(*) AS n_encoded,
            |         md5(string_agg(tok, chr(10) ORDER BY pos)) AS digest
            |  FROM s4 GROUP BY doc_id),
            |raw AS (
            |  SELECT doc_id, lang,
            |         CAST(len(regexp_extract_all(lower(text), '\\S+'))
            |           AS BIGINT) AS n_raw
            |  FROM documents)
            |SELECT r.doc_id, r.lang, r.n_raw,
            |       CAST(COALESCE(e.n_encoded, 0) AS BIGINT) AS n_encoded,
            |       CASE WHEN r.n_raw = 0 THEN CAST(1 AS DOUBLE)
            |            ELSE CAST(COALESCE(e.n_encoded, 0) AS DOUBLE)
            |                   / CAST(r.n_raw AS DOUBLE) END AS ratio,
            |       COALESCE(e.digest, md5('')) AS digest
            |FROM raw r LEFT JOIN enc e USING (doc_id)
            |ORDER BY r.doc_id""".stripMargin)
  )

  /** Q244 — tokenizer fertility: the per-language tokenizer-eval
    * report every multilingual pipeline runs after training a
    * tokenizer (fertility = subword units per whitespace word;
    * chars-per-unit is its inverse lens). A tokenizer whose fertility
    * balloons on one language starves it of effective context — this
    * is THE standard diagnostic (e.g. in the XLM-R / NLLB tokenizer
    * analyses) for vocabulary under-allocation.
    *
    * Reuses the q93/q106 BPE machinery end-to-end: learn 3 merge
    * rounds, encode the corpus, aggregate per language. All counts are
    * exact integers (order-free sums); the two ratios are single IEEE
    * divisions of exact ints, identical in both engines. The oracle
    * reuses the unrolled q93 CTE chain — corpus state s4 IS the
    * encoding.
    *
    * Scale shape: bounded broadcast model + map-side encode (q106's
    * shape) followed by a lang-keyed partial-combinable aggregate —
    * the per-lang report is as wide as the language set, never the
    * corpus.
    */
  val q244 = Query(
    "q244_tokenizer_fertility",
    (s, dir) => {
      import s.implicits._
      encodedDocs(s, Tables.documents(s, dir), 3)
        .map { case (_, lang, toks, encoded) =>
          // CODEPOINTS, not UTF-16 code units: the oracle's len() counts
          // codepoints, and an astral-plane char must not count twice
          (lang, toks.length.toLong,
            toks.map(t => t.codePointCount(0, t.length).toLong).sum,
            encoded.length.toLong)
        }
        .toDF("lang", "w", "c", "u")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("c")).as("n_chars"), sum(col("u")).as("n_units"))
        .withColumn("fertility",
          when(col("n_words") === 0, lit(0.0))
            .otherwise(col("n_units").cast("double") /
              col("n_words").cast("double")))
        .withColumn("chars_per_unit",
          when(col("n_units") === 0, lit(0.0))
            .otherwise(col("n_chars").cast("double") /
              col("n_units").cast("double")))
        .select("lang", "n_docs", "n_words", "n_chars", "n_units",
          "fertility", "chars_per_unit")
        .orderBy("lang")
    },
    Some(s"""WITH $bpeS1Sql,
            |${bpeStepSql(1)},
            |${bpeStepSql(2)},
            |${bpeStepSql(3)},
            |raw AS (
            |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
            |         CAST(SUM(len(tok)) AS BIGINT) AS n_chars
            |  FROM s1 GROUP BY lang),
            |enc AS (
            |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_units
            |  FROM s4 GROUP BY lang),
            |d AS (
            |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            |  FROM documents GROUP BY lang)
            |SELECT d.lang, d.n_docs,
            |       COALESCE(r.n_words, 0) AS n_words,
            |       COALESCE(r.n_chars, 0) AS n_chars,
            |       COALESCE(e.n_units, 0) AS n_units,
            |       CASE WHEN COALESCE(r.n_words, 0) = 0 THEN CAST(0 AS DOUBLE)
            |            ELSE CAST(e.n_units AS DOUBLE)
            |                   / CAST(r.n_words AS DOUBLE) END AS fertility,
            |       CASE WHEN COALESCE(e.n_units, 0) = 0 THEN CAST(0 AS DOUBLE)
            |            ELSE CAST(r.n_chars AS DOUBLE)
            |                   / CAST(e.n_units AS DOUBLE) END AS chars_per_unit
            |FROM d LEFT JOIN raw r USING (lang) LEFT JOIN enc e USING (lang)
            |ORDER BY d.lang""".stripMargin)
  )

  /** Q125 — BM25 retrieval scoring: score every document against the
    * corpus's own top-3 tokens (a deterministic, data-derived query —
    * no hardcoded vocabulary) and emit the top-50 hits. This is the
    * ranked-retrieval step a training-data pipeline runs for targeted
    * corpus slicing ("pull documents about X"), one level up from
    * q73's inverted index and q54's raw TF-IDF.
    *
    * Cross-engine exactness: idf = round(ln(1+(N−df+0.5)/(df+0.5)), 6)
    * under the q53 libm rule; each per-term contribution is a fixed
    * mirrored IEEE AST, then clamped to DECIMAL(18,6) so the per-doc
    * SUM over terms is order-free; ranking orders by the exact decimal
    * score with a doc_id tiebreak.
    *
    * Scale shape: the query-term set is top-3 (broadcast); tf comes
    * from a semi-joined token scan, doc length from a combinable
    * count; nothing keyed wider than doc_id. At 100 TB the same plan
    * holds with the query terms as a broadcast list of any bounded
    * size.
    */
  val q125 = Query(
    "q125_bm25",
    (s, dir) => {
      val toks = tokensWithPos(Tables.documents(s, dir))
        .select(col("doc_id"), col("tok"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val nAvg = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
          .as("avgdl"))
      // vocab top-3 via TakeOrderedAndProject — never window-sort the
      // whole vocabulary on one task
      val qterms = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(3)
        .select("tok")
      val dfreq = toks.join(broadcast(qterms), "tok")
        .groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val tf = toks.join(broadcast(qterms), "tok")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val scored = tf.join(dl, "doc_id")
        .join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(nAvg))
        .withColumn("idf",
          round(log(lit(1.0) +
            (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
              / (col("df").cast("double") + lit(0.5))), 6))
        .withColumn("contrib",
          col("idf") * ((col("tf").cast("double") * lit(2.2))
            / (col("tf").cast("double") +
              lit(1.2) * (lit(0.25) + lit(0.75) *
                (col("dl").cast("double") / col("avgdl"))))))
        .groupBy("doc_id")
        .agg(sum(round(col("contrib"), 6).cast("decimal(18,6)"))
          .cast("decimal(18,6)").as("score_dec"))
      // global top-50 via TakeOrderedAndProject, rank over 50 survivors
      graft.plans.TopKOps.rankedTopK(scored,
          Seq(col("score_dec").desc, col("doc_id").asc), 50)
        .select(col("rank"), col("doc_id"),
          col("score_dec").cast("double").as("score"))
        .orderBy("rank")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, tok
           |  FROM (SELECT doc_id,
           |               unnest(string_split_regex(lower(text), '\s+')) AS tok
           |        FROM documents)
           |  WHERE tok <> ''),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
           |navg AS (
           |  SELECT COUNT(*) AS n_docs,
           |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           |  FROM dl),
           |qterms AS (
           |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1)
           |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 3),
           |dfreq AS (
           |  SELECT tok, COUNT(DISTINCT doc_id) AS df
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1),
           |tf AS (
           |  SELECT doc_id, tok, COUNT(*) AS tf
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1, 2),
           |scored AS (
           |  SELECT t.doc_id,
           |         CAST(SUM(CAST(round(
           |           round(ln(1.0 + (CAST(n.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
           |                          / (CAST(f.df AS DOUBLE) + 0.5)), 6)
           |           * ((CAST(t.tf AS DOUBLE) * 2.2)
           |              / (CAST(t.tf AS DOUBLE)
           |                 + 1.2 * (0.25 + 0.75 * (CAST(d.dl AS DOUBLE) / n.avgdl)))), 6)
           |           AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS score_dec
           |  FROM tf t JOIN dl d USING (doc_id) JOIN dfreq f USING (tok), navg n
           |  GROUP BY 1)
           |SELECT CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id ASC)
           |            AS BIGINT) AS rank,
           |       doc_id, CAST(score_dec AS DOUBLE) AS score
           |FROM scored
           |QUALIFY row_number() OVER (ORDER BY score_dec DESC, doc_id ASC) <= 50
           |ORDER BY rank""".stripMargin)
  )

  /** Q126 — the hashing trick (feature hashing): project each
    * document's categorical features (lang, source, their cross, and a
    * length bucket) into a fixed 64-bucket signed sparse vector — the
    * constant-memory featurizer for training linear/NN models over
    * unbounded vocabularies (no fitted dictionary to ship; the hash IS
    * the schema). Collisions resolve by signed summation, which is
    * what keeps the estimator unbiased.
    *
    * Cross-engine exactness: bucket and sign both come from
    * [[graft.Canon.md5Residue]] (namespaced `i#`/`s#` keys so index
    * and sign hashes are independent); the vector is rendered as the
    * canonical sorted `idx:weight` string (the q43 array-as-string
    * oracle convention — zero-padded so lexicographic = numeric
    * order).
    *
    * Scale shape: pure map-side feature explode + a (doc_id, idx)
    * combinable sum + one per-doc sorted-set aggregation bounded by 4
    * features; no shuffle wider than doc_id.
    */
  val q126 = Query(
    "q126_feature_hash",
    (s, dir) => {
      val feats = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("stack(4, " +
            "concat('lang=', lang), " +
            "concat('src=', source), " +
            "concat('x=', lang, '|', source), " +
            "concat('len=', CAST(n_chars DIV 500 AS STRING))) AS (feat)"))
      val hashed = feats
        .withColumn("idx", graft.Canon.md5Residue(concat(lit("i#"), col("feat")), 64))
        .withColumn("sign",
          (lit(1) - lit(2) * graft.Canon.md5Residue(concat(lit("s#"), col("feat")), 2))
            .cast("long"))
      hashed.groupBy("doc_id", "idx").agg(sum(col("sign")).as("wt"))
        .filter(col("wt") =!= 0)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"),
          array_join(array_sort(collect_list(
            concat(lpad(col("idx").cast("string"), 2, "0"), lit(":"),
              col("wt").cast("string")))), ",").as("vec"))
        .select("doc_id", "nnz", "vec")
        .orderBy("doc_id")
    },
    Some("""WITH feats AS (
           |  SELECT doc_id, unnest([
           |    concat('lang=', lang),
           |    concat('src=', source),
           |    concat('x=', lang, '|', source),
           |    concat('len=', CAST(n_chars // 500 AS VARCHAR))]) AS feat
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id,
           |         CAST(concat('0x', substr(md5(concat('i#', feat)), 1, 15))
           |              AS BIGINT) % 64 AS idx,
           |         1 - 2 * (CAST(concat('0x', substr(md5(concat('s#', feat)), 1, 15))
           |                       AS BIGINT) % 2) AS sign
           |  FROM feats),
           |sparse AS (
           |  SELECT doc_id, idx, CAST(SUM(sign) AS BIGINT) AS wt
           |  FROM hashed GROUP BY 1, 2 HAVING SUM(sign) <> 0)
           |SELECT doc_id, COUNT(*) AS nnz,
           |       string_agg(concat(lpad(CAST(idx AS VARCHAR), 2, '0'), ':',
           |                         CAST(wt AS VARCHAR)), ','
           |                  ORDER BY lpad(CAST(idx AS VARCHAR), 2, '0') || ':' ||
           |                           CAST(wt AS VARCHAR)) AS vec
           |FROM sparse GROUP BY 1
           |ORDER BY doc_id""".stripMargin)
  )

  /** Q132 — NDCG@10 of a naive retrieval ranking: per language, rank
    * documents by length (`n_chars` desc — the "longer is better"
    * strawman) and score that ranking against graded relevance =
    * number of the corpus's top-3 query terms present (0–3, the same
    * data-derived query as q125). The ranking-eval half of the
    * retrieval loop: q125 produces rankings, q132 judges one.
    *
    * Cross-engine exactness: the 1/log₂(pos+1) discounts for
    * positions 1–10 are a shared 10-constant micro-unit literal table
    * (the q130 device — no libm), so DCG and ideal-DCG are exact
    * BIGINTs and NDCG is one IEEE division; ideal ranking tiebreaks
    * on doc_id so both engines pick identical top-10 sets.
    *
    * Scale shape: relevance is a broadcast semi-join on the 3-term
    * query + a doc_id-combinable count; both rankings are per-lang
    * windows cut at position 10, so the final aggregate touches ≤ 10
    * rows per language.
    */
  val q132 = Query(
    "q132_ndcg",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = tokensWithPos(docs).select("doc_id", "tok")
      val qterms = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(3)
        .select("tok")
      val rel = toks.distinct().join(broadcast(qterms), "tok")
        .groupBy("doc_id").agg(count(lit(1)).as("rel"))
      val scored = docs.select("doc_id", "lang", "n_chars")
        .join(rel, Seq("doc_id"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
      val disc = array(lit(1000000L), lit(630930L), lit(500000L),
        lit(430677L), lit(386853L), lit(356207L), lit(333333L),
        lit(315465L), lit(301030L), lit(289065L))
      val ranked = scored
        .withColumn("pos", row_number().over(
          Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id").asc)))
        .withColumn("ipos", row_number().over(
          Window.partitionBy("lang").orderBy(col("rel").desc, col("doc_id").asc)))
      val dcg = ranked.filter(col("pos") <= 10)
        .groupBy("lang")
        .agg(sum(col("rel") * element_at(disc, col("pos"))).as("dcg_micro"))
      val idcg = ranked.filter(col("ipos") <= 10)
        .groupBy("lang")
        .agg(sum(col("rel") * element_at(disc, col("ipos"))).as("idcg_micro"))
      dcg.join(idcg, "lang")
        .withColumn("ndcg",
          when(col("idcg_micro") === 0, lit(0.0))
            .otherwise(col("dcg_micro").cast("double") /
              col("idcg_micro").cast("double")))
        .select("lang", "dcg_micro", "idcg_micro", "ndcg")
        .orderBy("lang")
    },
    Some("""WITH tk AS (
           |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |  FROM documents),
           |toks AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
           |qterms AS (
           |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1)
           |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 3),
           |rel AS (
           |  SELECT doc_id, COUNT(*) AS rel
           |  FROM (SELECT DISTINCT doc_id, tok FROM toks) SEMI JOIN qterms USING (tok)
           |  GROUP BY 1),
           |scored AS (
           |  SELECT d.doc_id, d.lang, d.n_chars, COALESCE(r.rel, 0) AS rel
           |  FROM documents d LEFT JOIN rel r USING (doc_id)),
           |ranked AS (
           |  SELECT lang, rel,
           |         row_number() OVER (PARTITION BY lang
           |           ORDER BY n_chars DESC, doc_id ASC) AS pos,
           |         row_number() OVER (PARTITION BY lang
           |           ORDER BY rel DESC, doc_id ASC) AS ipos
           |  FROM scored),
           |disc AS (SELECT [1000000, 630930, 500000, 430677, 386853, 356207,
           |                 333333, 315465, 301030, 289065] AS w),
           |dcg AS (
           |  SELECT lang, CAST(SUM(rel * w[pos]) AS BIGINT) AS dcg_micro
           |  FROM ranked, disc WHERE pos <= 10 GROUP BY 1),
           |idcg AS (
           |  SELECT lang, CAST(SUM(rel * w[ipos]) AS BIGINT) AS idcg_micro
           |  FROM ranked, disc WHERE ipos <= 10 GROUP BY 1)
           |SELECT lang, dcg_micro, idcg_micro,
           |       CASE WHEN idcg_micro = 0 THEN 0.0
           |            ELSE CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE)
           |       END AS ndcg
           |FROM dcg JOIN idcg USING (lang) ORDER BY lang""".stripMargin)
  )

  /** Q133 — Cohen's kappa of the q32 language-ID heuristic against
    * the true `lang` column: chance-corrected agreement over the
    * lang×pred confusion matrix, the honest upgrade to raw accuracy
    * when class frequencies are skewed. Closes the classifier loop:
    * q32 predicts, q133 grades the predictor.
    *
    * Cross-engine exactness: kappa = (N·Σdiag − Σ rᵢcᵢ) /
    * (N² − Σ rᵢcᵢ) — the (p₀−pₑ)/(1−pₑ) definition cleared of
    * fractions — with every term an exact BIGINT from confusion-cell
    * counts (< 2⁵³ at tested SFs; DECIMAL(38,0) at extreme N), so
    * kappa and accuracy are each one IEEE division.
    *
    * Scale shape: the prediction is q32's broadcast marker join +
    * per-doc argmax; the confusion matrix is a (lang, pred)
    * combinable count (≤ langs² cells); margins and the scalar
    * reduction are over that tiny matrix.
    */
  val q133 = Query(
    "q133_kappa",
    (s, dir) => {
      import s.implicits._
      val m = broadcast(markers.toDF("tok", "cand"))
      val scores = tokensWithPos(Tables.documents(s, dir))
        .join(m, "tok")
        .groupBy("doc_id", "cand")
        .agg(count(lit(1)).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("cand").asc)
      val best = scores.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("doc_id", "cand")
      val cells = Tables.documents(s, dir).select("doc_id", "lang")
        .join(best, Seq("doc_id"), "left")
        .select(col("lang"), coalesce(col("cand"), lit("und")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val rm = cells.groupBy("lang").agg(sum(col("n")).as("r"))
      val cm = cells.groupBy("pred").agg(sum(col("n")).as("c"))
      val pe = rm.join(cm, rm("lang") === cm("pred"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("sum_rc"))
      val stats = cells.agg(
        sum(col("n")).as("n_docs"),
        coalesce(sum(when(col("lang") === col("pred"), col("n"))), lit(0L))
          .as("n_agree"))
      stats.crossJoin(broadcast(pe))
        .withColumn("accuracy",
          col("n_agree").cast("double") / col("n_docs").cast("double"))
        .withColumn("kappa",
          (col("n_docs") * col("n_agree") - col("sum_rc")).cast("double") /
            (col("n_docs") * col("n_docs") - col("sum_rc")).cast("double"))
        .select("n_docs", "n_agree", "accuracy", "kappa")
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
            |  FROM documents),
            |m(tok, cand) AS (VALUES $markerValuesSql),
            |scores AS (
            |  SELECT doc_id, cand, COUNT(*) AS score
            |  FROM toks JOIN m USING (tok)
            |  GROUP BY doc_id, cand),
            |best AS (
            |  SELECT doc_id, cand FROM scores
            |  QUALIFY row_number() OVER (PARTITION BY doc_id
            |    ORDER BY score DESC, cand ASC) = 1),
            |cells AS (
            |  SELECT d.lang, COALESCE(b.cand, 'und') AS pred, COUNT(*) AS n
            |  FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
            |  GROUP BY 1, 2),
            |rm AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM cells GROUP BY 1),
            |cm AS (SELECT pred, CAST(SUM(n) AS BIGINT) AS c FROM cells GROUP BY 1),
            |pe AS (
            |  SELECT COALESCE(CAST(SUM(r * c) AS BIGINT), 0) AS sum_rc
            |  FROM rm JOIN cm ON rm.lang = cm.pred),
            |stats AS (
            |  SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
            |         COALESCE(CAST(SUM(CASE WHEN lang = pred THEN n END) AS BIGINT), 0)
            |           AS n_agree
            |  FROM cells)
            |SELECT n_docs, n_agree,
            |       CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy,
            |       CAST(n_docs * n_agree - sum_rc AS DOUBLE)
            |         / CAST(n_docs * n_docs - sum_rc AS DOUBLE) AS kappa
            |FROM stats, pe""".stripMargin)
  )

  /** Q138 — deterministic negative sampling for contrastive training
    * pairs: each anchor document gets 3 cross-language negatives,
    * chosen reproducibly so the same corpus always yields the same
    * training set (the property that makes distributed regeneration
    * and incremental reruns safe).
    *
    * Scale design: negatives are drawn from a per-language candidate
    * POOL of 8 hash-ranked docs — fixed-size broadcast model state, so
    * the anchor×negative step is a broadcast nested-loop over ≤ 40
    * rows (documented: the inequality join is against the pool, never
    * doc×doc) followed by one anchor-keyed window. The pair hash
    * md5(anchor:neg) mod P makes the pick independent of partitioning
    * and cluster size.
    *
    * Cross-engine exactness: all ordering keys are md5-derived modular
    * integers ([[graft.Canon.md5Residue]]) with doc_id tiebreaks —
    * total orders, no FP anywhere.
    */
  val q138 = Query(
    "q138_negative_sample",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "lang")
      val wPool = Window.partitionBy("lang").orderBy(
        graft.Canon.md5Residue(col("doc_id").cast("string"), 1000000007L).asc,
        col("doc_id").asc)
      val pool = docs.withColumn("pr", row_number().over(wPool))
        .filter(col("pr") <= 8)
        .select(col("doc_id").as("neg_id"), col("lang").as("neg_lang"))
      val wPick = Window.partitionBy("doc_id")
        .orderBy(col("pair_h").asc, col("neg_id").asc)
      docs.join(broadcast(pool), col("lang") =!= col("neg_lang"))
        .withColumn("pair_h", graft.Canon.md5Residue(
          concat(col("doc_id").cast("string"), lit(":"),
            col("neg_id").cast("string")), 1000000007L))
        .withColumn("neg_rank", row_number().over(wPick).cast("long"))
        .filter(col("neg_rank") <= 3)
        .select("doc_id", "neg_rank", "neg_id", "neg_lang")
        .orderBy("doc_id", "neg_rank")
    },
    Some("""WITH d AS (SELECT doc_id, lang FROM documents),
           |pool AS (
           |  SELECT doc_id AS neg_id, lang AS neg_lang FROM (
           |    SELECT doc_id, lang,
           |           row_number() OVER (PARTITION BY lang ORDER BY
           |             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           |               AS BIGINT) % 1000000007, doc_id) AS pr
           |    FROM d) WHERE pr <= 8),
           |cand AS (
           |  SELECT d.doc_id, p.neg_id, p.neg_lang,
           |         CAST(concat('0x', substr(md5(concat(CAST(d.doc_id AS VARCHAR), ':',
           |              CAST(p.neg_id AS VARCHAR))), 1, 15)) AS BIGINT)
           |           % 1000000007 AS pair_h
           |  FROM d JOIN pool p ON d.lang <> p.neg_lang)
           |SELECT doc_id,
           |       row_number() OVER (PARTITION BY doc_id
           |         ORDER BY pair_h, neg_id) AS neg_rank,
           |       neg_id, neg_lang
           |FROM cand
           |QUALIFY neg_rank <= 3
           |ORDER BY doc_id, neg_rank""".stripMargin)
  )

  /** Q150 — exact repeated-span detection: for every stride-1 10-token
    * window of every document, does the identical window text occur in
    * at least one OTHER document? The per-position statistic behind
    * exact-substring training-data dedup (the suffix-array pass of Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", restated as fixed-width hashed windows): MinHash (q28)
    * judges whole documents, this localizes WHICH spans are boilerplate
    * so they can be cut without dropping the document.
    *
    * Scale shape: the stride-1 explode is an inherent tokens-per-doc
    * fan-out (the suffix array visits every position too); window
    * occurrences then carry only (doc_id, 128-bit span hash), so the
    * distinct-doc count per span is one combinable aggregation keyed on
    * the hash, and the verdict join is hash-keyed equi — no all-pairs
    * stage anywhere. Windows reuse q86's exact tokenize+md5 device.
    */
  val q150 = Query(
    "q150_repeated_spans",
    (s, dir) => {
      val wins = Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 10)
        .withColumn("i", explode(sequence(lit(0L), col("n") - 10L)))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), (col("i") + 1).cast("int"), lit(10))))
            .as("win"))
      val spanDocs = wins.groupBy("win")
        .agg(countDistinct(col("doc_id")).as("nd"))
      wins.join(spanDocs, "win")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_repeated"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           |  FROM documents),
           |w AS (
           |  SELECT doc_id,
           |         md5(array_to_string(toks[i+1 : i+10], ' ')) AS win
           |  FROM (SELECT doc_id, toks,
           |               unnest(generate_series(0, n - 10)) AS i
           |        FROM t WHERE n >= 10)),
           |d AS (SELECT win, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY win)
           |SELECT doc_id, COUNT(*) AS n_windows,
           |       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
           |FROM w JOIN d USING (win)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** Q154 — token co-occurrence PMI over the top-50 vocabulary: for
    * every pair of high-document-frequency tokens, the pointwise
    * mutual information of appearing in the SAME document —
    * ln(n_ab·N / (n_a·n_b)) — the collocation statistic behind
    * phrase mining and word-association features (q53's TF-IDF scores
    * tokens alone; this scores their joint behavior).
    *
    * Scale discipline: the pair stage is quadratic by nature, so it is
    * gated behind a broadcast top-K vocabulary semi-join — each doc
    * contributes at most C(50,2) pairs regardless of corpus size, and
    * the pair count is one combinable aggregation on the (a,b) key.
    * Exactness: counts are doc-frequency BIGINTs; PMI's argument is
    * one exact-BIGINT-product ratio evaluated in ONE IEEE division,
    * then ln under the q53 6-decimal rounding rule.
    */
  val q154 = Query(
    "q154_cooc_pmi",
    (s, dir) => {
      val pres = tokensWithPos(Tables.documents(s, dir))
        .select("doc_id", "tok").distinct()
      val dfreq = pres.groupBy("tok").agg(count(lit(1)).as("n"))
      val top = dfreq.orderBy(col("n").desc, col("tok").asc).limit(50)
        .select("tok", "n")
      val sel = pres.join(broadcast(top), "tok")
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
      sel.as("a").join(sel.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .agg(count(lit(1)).as("n_ab"),
          first(col("a.n")).as("n_a"), first(col("b.n")).as("n_b"))
        .filter(col("n_ab") >= 2)
        .crossJoin(broadcast(nDocs))
        .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
          round(log((col("n_ab") * col("nd")).cast("double") /
            (col("n_a") * col("n_b")).cast("double")), 6).as("pmi"))
        .orderBy("tok_a", "tok_b")
    },
    Some("""WITH toks AS (
           |  SELECT DISTINCT doc_id, tok FROM (
           |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
           |    FROM documents) WHERE tok <> ''),
           |dfreq AS (
           |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY tok),
           |top AS (
           |  SELECT tok, n FROM (
           |    SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
           |    FROM dfreq) WHERE rk <= 50),
           |sel AS (SELECT t.doc_id, t.tok, p.n FROM toks t JOIN top p USING (tok)),
           |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
           |pairs AS (
           |  SELECT a.tok AS tok_a, b.tok AS tok_b,
           |         CAST(COUNT(*) AS BIGINT) AS n_ab,
           |         any_value(a.n) AS n_a, any_value(b.n) AS n_b
           |  FROM sel a JOIN sel b
           |    ON a.doc_id = b.doc_id AND a.tok < b.tok
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
           |SELECT tok_a, tok_b, n_ab, n_a, n_b,
           |       round(ln(CAST(n_ab * nd AS DOUBLE)
           |                / CAST(n_a * n_b AS DOUBLE)), 6) AS pmi
           |FROM pairs, nd ORDER BY tok_a, tok_b""".stripMargin)
  )

  /** Q155 — repeated-span EXCISION: the transform q150's statistic
    * licenses. Every token position covered by a 10-token window whose
    * exact text occurs in ≥2 distinct documents is cut; the surviving
    * tokens are re-stitched in order and fingerprinted. This is the
    * exact-substring dedup step itself (cut the boilerplate, keep the
    * document) — q27/q68 drop whole documents, this repairs them.
    *
    * Scale shape: q150's hash-keyed repeated-window detection, a
    * bounded ×10 position fan-out from flagged starts (cut-position
    * set), one anti-join on (doc, pos), and the q112 sort-struct
    * re-stitch — every stage keyed on doc or span hash, no all-pairs.
    * Docs shorter than one window pass through uncut by definition.
    */
  val q155 = Query(
    "q155_span_cut",
    (s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_extract_all(col("text"), lit("\\S+"), lit(0)).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") > 0)
      val wins = base.filter(col("n") >= 10)
        .withColumn("i", explode(sequence(lit(0L), col("n") - 10L)))
        .select(col("doc_id"), (col("i") + 1L).as("start"),
          md5(concat_ws(" ", slice(col("toks"), (col("i") + 1).cast("int"), lit(10))))
            .as("win"))
      val rep = wins.groupBy("win")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
      val cutPos = wins.join(rep, "win")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + 9L)).as("pos"))
        .distinct()
      val tokPos = base
        .withColumn("pos", explode(sequence(lit(1L), col("n"))))
        .select(col("doc_id"), col("n"), col("pos"),
          element_at(col("toks"), col("pos").cast("int")).as("tok"))
      tokPos.join(cutPos, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(first(col("n")).as("n_tok"),
          count(lit(1)).as("n_kept"),
          md5(concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok")))).as("clean_md5"))
        .select(col("doc_id"), col("n_tok"),
          (col("n_tok") - col("n_kept")).as("n_cut"), col("clean_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
           |  FROM documents WHERE len(regexp_extract_all(text, '\S+')) > 0),
           |w AS (
           |  SELECT doc_id, i + 1 AS start,
           |         md5(array_to_string(toks[i+1 : i+10], ' ')) AS win
           |  FROM (SELECT doc_id, toks,
           |               unnest(generate_series(0, n - 10)) AS i
           |        FROM t WHERE n >= 10)),
           |rep AS (
           |  SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2),
           |cut AS (
           |  SELECT DISTINCT doc_id, unnest(generate_series(start, start + 9)) AS pos
           |  FROM w JOIN rep USING (win)),
           |tp AS (
           |  SELECT doc_id, n, unnest(generate_series(1, n)) AS pos, toks
           |  FROM t),
           |kept AS (
           |  SELECT tp.doc_id, tp.n, tp.pos, tp.toks[CAST(tp.pos AS INTEGER)] AS tok
           |  FROM tp ANTI JOIN cut ON tp.doc_id = cut.doc_id AND tp.pos = cut.pos)
           |SELECT doc_id, any_value(n) AS n_tok,
           |       CAST(any_value(n) - COUNT(*) AS BIGINT) AS n_cut,
           |       md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
           |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  )

  /** Q163 — export shard manifest: the handoff record between the data
    * pipeline and the training job. Documents are assigned to 8 shards
    * by the deterministic md5 residue (stable under repartitioning,
    * retries, and engine — the q77 split rule applied to files); per
    * shard the manifest carries doc count, exact token and char
    * totals, and an order-canonical md5 of the member id list, so the
    * consumer can verify every shard it reads against the manifest
    * before training starts (the per-shard twin of
    * `Sources.writeWithAudit`'s control totals). Pure map-side shard
    * assignment + one combinable aggregate; the id-list digest rides
    * the q112 sort-struct device.
    */
  val q163 = Query(
    "q163_shard_manifest",
    (s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          graft.Canon.md5Residue(col("doc_id").cast("string"), 8L).as("shard"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"),
          md5(concat_ws(",",
            transform(array_sort(collect_list(col("doc_id"))),
              x => x.cast("string")))).as("ids_md5"))
        .orderBy("shard")
    },
    Some("""SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
           |         AS BIGINT) % 8 AS shard,
           |       CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
           |         AS n_tokens,
           |       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           |       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
           |         AS ids_md5
           |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)
  )

  /** Q168 — ranker agreement: Spearman rank correlation between the
    * q125 BM25 top-50 and a smoothed-IDF TF-IDF scorer over the SAME
    * corpus-derived query — the "do my two retrieval stacks agree, and
    * where" readout that decides whether a cheaper ranker can serve as
    * a first stage. ρ = 1 − 6·Σd²/(n(n²−1)) over integer ranks: Σd² is
    * an exact BIGINT, the statistic ONE IEEE division. TF-IDF uses the
    * sklearn-standard smoothed idf 1 + ln((N+1)/(df+1)) so the score
    * stays non-degenerate even when a query term hits every document
    * (plain ln(N/df) collapses to 0 there); contributions round to 6dp
    * then sum as decimals (q125's order-free device).
    */
  val q168 = Query(
    "q168_rank_corr",
    (s, dir) => {
      val bm = q125.build(s, dir).select(col("rank").as("rank_a"), col("doc_id"))
      val toks = tokensWithPos(Tables.documents(s, dir)).select("doc_id", "tok")
      val qterms = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(3)
        .select("tok")
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val dfreq = toks.join(broadcast(qterms), "tok")
        .groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
      val tf = toks.join(broadcast(qterms), "tok")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val tfidf = tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(nDocs))
        .withColumn("idf", lit(1.0) +
          round(log((col("n_docs").cast("double") + 1.0) /
            (col("df").cast("double") + 1.0)), 6))
        .withColumn("contrib",
          round(col("tf").cast("double") * col("idf"), 6).cast("decimal(18,6)"))
        .groupBy("doc_id")
        .agg(sum(col("contrib")).cast("decimal(18,6)").as("score_b"))
      val joined = bm.join(tfidf, Seq("doc_id"), "left")
        .withColumn("score_b",
          coalesce(col("score_b"), lit(0).cast("decimal(18,6)")))
      val wB = Window.orderBy(col("score_b").desc, col("doc_id").asc)
      joined.withColumn("rank_b", row_number().over(wB).cast("long"))
        .agg(count(lit(1)).as("n"),
          sum((col("rank_a") - col("rank_b")) *
            (col("rank_a") - col("rank_b"))).as("sum_d2"))
        .select(col("n"), col("sum_d2"),
          (lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n") * (col("n") * col("n") - 1)).cast("double")).as("rho"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, tok
           |  FROM (SELECT doc_id,
           |               unnest(string_split_regex(lower(text), '\s+')) AS tok
           |        FROM documents)
           |  WHERE tok <> ''),
           |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
           |navg AS (
           |  SELECT COUNT(*) AS n_docs,
           |         CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
           |  FROM dl),
           |qterms AS (
           |  SELECT tok FROM (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1)
           |  QUALIFY row_number() OVER (ORDER BY cnt DESC, tok ASC) <= 3),
           |dfreq AS (
           |  SELECT tok, COUNT(DISTINCT doc_id) AS df
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1),
           |tf AS (
           |  SELECT doc_id, tok, COUNT(*) AS tf
           |  FROM toks SEMI JOIN qterms USING (tok) GROUP BY 1, 2),
           |bm_scored AS (
           |  SELECT t.doc_id,
           |         CAST(SUM(CAST(round(
           |           round(ln(1 + (n.n_docs - d.df + 0.5) / (d.df + 0.5)), 6)
           |           * ((t.tf * 2.2)
           |              / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl / n.avgdl)))), 6)
           |           AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS score_dec
           |  FROM tf t JOIN dl l ON t.doc_id = l.doc_id
           |  JOIN dfreq d ON t.tok = d.tok CROSS JOIN navg n
           |  GROUP BY t.doc_id),
           |bm AS (
           |  SELECT doc_id,
           |         CAST(row_number() OVER (ORDER BY score_dec DESC, doc_id ASC)
           |              AS BIGINT) AS rank_a
           |  FROM bm_scored
           |  QUALIFY row_number() OVER (ORDER BY score_dec DESC, doc_id ASC) <= 50),
           |tfidf AS (
           |  SELECT t.doc_id,
           |         CAST(SUM(CAST(round(t.tf * (1 + round(ln((n.n_docs + 1.0)
           |           / (d.df + 1.0)), 6)), 6) AS DECIMAL(18,6)))
           |           AS DECIMAL(18,6)) AS score_b
           |  FROM tf t JOIN dfreq d ON t.tok = d.tok CROSS JOIN navg n
           |  GROUP BY t.doc_id),
           |ranked AS (
           |  SELECT bm.rank_a,
           |         CAST(row_number() OVER (
           |           ORDER BY COALESCE(tfidf.score_b, CAST(0 AS DECIMAL(18,6))) DESC,
           |                    bm.doc_id ASC) AS BIGINT) AS rank_b
           |  FROM bm LEFT JOIN tfidf ON bm.doc_id = tfidf.doc_id)
           |SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |       CAST(SUM((rank_a - rank_b) * (rank_a - rank_b)) AS BIGINT)
           |         AS sum_d2,
           |       1.0 - 6.0 * CAST(SUM((rank_a - rank_b) * (rank_a - rank_b))
           |         AS DOUBLE)
           |         / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) AS rho
           |FROM ranked""".stripMargin)
  )

  /** Q171 — the native n-gram GENERATOR ([[graft.plans.NgramGen]]) on the
    * engine's SQL surface: trigram rows streamed straight out of the
    * token array with no intermediate n-gram array materialization (the
    * scaladoc on [[graft.plans.NgramGen]] has the memory argument vs the
    * composed `transform`+`posexplode` form). The oracle states the same
    * semantics through DuckDB's correlated `unnest(range(...))` + list
    * slicing — two entirely different table-function machineries, one
    * hash-checked answer. 1-in-50 doc sample keeps the fan-out
    * output-bounded at every SF.
    */
  val q171 = Query(
    "q171_ngram_gen",
    (s, dir) => {
      graft.plans.GraftRules.install(s)
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id"), expr("graft_ngrams(graft_tokens(text), 3)"))
        .orderBy("doc_id", "pos")
    },
    Some("""WITH d AS (
           |  SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
           |  FROM documents WHERE doc_id % 50 = 0),
           |x AS (SELECT doc_id, toks,
           |             unnest(range(1, len(toks) - 1)) AS i FROM d)
           |SELECT doc_id, CAST(i AS INT) AS pos,
           |       array_to_string(toks[i:i+2], ' ') AS ngram
           |FROM x ORDER BY doc_id, pos""".stripMargin)
  )

  /** Q174 — cross-group quantile normalization: calibrate a per-doc raw
    * score (text length here; any q33-style signal slots in) so its
    * DISTRIBUTION is comparable across languages — the fix for "a 0.7
    * quality score means different things in different languages" that
    * every multilingual quality filter needs before a single global
    * keep-threshold makes sense. Each doc maps to its within-language
    * percentile rank (integer ppm, (r−1)·10⁶ div (n−1)), then reads the
    * POOLED distribution's order statistic at that percentile as its
    * calibrated score — within-language ordering is preserved exactly,
    * while every language's calibrated scores share the one global
    * distribution.
    *
    * All index math is exact BIGINT (ppm ranks, div), the calibrated
    * value is a real data value (an order statistic, never an
    * interpolation) — hash-exact in both engines. Scale note: the
    * per-language rank is a keyed window; the pooled reference runs
    * through one global-rank pass (the q39 exact-rank device) whose
    * 100 TB swap is q91's mergeable GK sketch — lookup by percentile
    * instead of rank join, same output contract.
    */
  val q174 = Query(
    "q174_quantile_normalize",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("raw"))
      val wl = Window.partitionBy("lang").orderBy("raw", "doc_id")
      val perLang = docs
        .withColumn("r", row_number().over(wl).cast("long"))
        .withColumn("nl", count(lit(1))
          .over(Window.partitionBy("lang")).cast("long"))
        .withColumn("pr_ppm",
          when(col("nl") === 1, lit(0L))
            .otherwise(expr("((r - 1) * 1000000) DIV (nl - 1)")))
      val global = docs
        .select(col("raw").as("g_raw"), col("doc_id").as("g_id"))
        .withColumn("gr", row_number().over(
          Window.orderBy("g_raw", "g_id")).cast("long"))
      val n = docs.count()
      perLang
        .withColumn("target_gr",
          expr(s"(pr_ppm * (${n} - 1)) DIV 1000000 + 1"))
        .join(global.select(col("gr"), col("g_raw")),
          col("target_gr") === col("gr"))
        .select(col("doc_id"), col("lang"), col("raw"), col("pr_ppm"),
          col("g_raw").as("calibrated"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
           |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS raw
           |  FROM documents),
           |pl AS (
           |  SELECT doc_id, lang, raw,
           |         CAST(row_number() OVER (PARTITION BY lang
           |              ORDER BY raw, doc_id) AS BIGINT) AS r,
           |         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS nl
           |  FROM d),
           |pr AS (
           |  SELECT doc_id, lang, raw,
           |         CASE WHEN nl = 1 THEN 0
           |              ELSE ((r - 1) * 1000000) // (nl - 1) END AS pr_ppm
           |  FROM pl),
           |g AS (
           |  SELECT raw AS g_raw,
           |         CAST(row_number() OVER (ORDER BY raw, doc_id) AS BIGINT)
           |           AS gr
           |  FROM d),
           |n AS (SELECT COUNT(*) AS n FROM d)
           |SELECT pr.doc_id, pr.lang, pr.raw, CAST(pr.pr_ppm AS BIGINT) AS pr_ppm,
           |       g.g_raw AS calibrated
           |FROM pr CROSS JOIN n
           |JOIN g ON (pr.pr_ppm * (n.n - 1)) // 1000000 + 1 = g.gr
           |ORDER BY pr.doc_id""".stripMargin)
  )

  /** Q176 — rank-biased overlap (Webber et al.) between two rankers at
    * p = 0.9, depth 20: the top-weighted agreement measure that, unlike
    * q168's Spearman (whole-list, conjoint-only), rewards agreement
    * most where users look — the top — and is well-defined when the
    * lists differ. Rankers: docs by token count vs by character length
    * (two cheap quality proxies whose agreement says whether the
    * cheaper one suffices; tiebreak doc_id, both fully deterministic).
    *
    * Exactness: the geometric weights (1−p)·p^(d−1) are the q130/q132
    * micro-unit device — ONE Scala constant table rounded to nano-units
    * and interpolated into BOTH the Spark literals and the oracle SQL
    * text, so no libm runs in either engine; overlap_d is an exact
    * BIGINT from the cumulative max(rank_a, rank_b) ≤ d histogram, and
    * each contribution (w_d·overlap_d) div d plus the running RBO
    * prefix sum stay exact integers under declared truncating division. Output: the 20-row depth curve with the running
    * RBO (the final row is RBO_min@20).
    *
    * Scale: two global top-20 cuts ([[graft.plans.TopKPerKeyNode]]'s
    * problem shape; here plain TakeOrderedAndProject) + a 20×20-bounded
    * join — post-cut data is O(k), independent of corpus size.
    */
  val q176 = Query(
    "q176_rbo",
    (s, dir) => {
      val K = 20
      val M = 1000000000L // nano-units
      val p = 0.9
      val wFp: Seq[Long] = (1 to K).map(d =>
        math.round((1 - p) * math.pow(p, d - 1) * M))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
      // both top-20 cuts via TakeOrderedAndProject + bounded rank —
      // a doc-grain unpartitioned window would sort the corpus once
      // per ranker
      val ra = graft.plans.TopKOps.rankedTopK(docs,
          Seq(col("n_tokens").desc, col("doc_id").asc), K, "ra")
        .select("doc_id", "ra")
      val rb = graft.plans.TopKOps.rankedTopK(docs,
          Seq(col("n_chars").desc, col("doc_id").asc), K, "rb")
        .select("doc_id", "rb")
      val joint = ra.join(rb, "doc_id")
        .select(greatest(col("ra"), col("rb")).as("m"))
      val depths = s.range(1, K + 1).select(col("id").as("d"))
      val wTable = wFp.zipWithIndex.map { case (w, i) =>
        struct(lit(i + 1L).as("d"), lit(w).as("w_fp"))
      }
      // contrib_d = w_d · overlap_d div d in nano-units with truncating
      // division — declared semantics, identical in both engines
      depths
        .join(joint, col("m") <= col("d"), "left")
        .groupBy("d")
        .agg(count(col("m")).as("overlap"))
        .withColumn("w_fp",
          element_at(array(wTable: _*), col("d").cast("int")).getField("w_fp"))
        .select(col("d"), col("overlap"),
          expr("CAST((w_fp * overlap) DIV d AS BIGINT)").as("contrib_fp"))
        .withColumn("rbo_fp",
          sum(col("contrib_fp")).over(
            Window.orderBy("d")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"))
        .withColumn("rbo", col("rbo_fp").cast("double") / M)
        .orderBy("d")
    },
    {
      val K = 20
      val p = 0.9
      val wFp = (1 to K).map(d =>
        math.round((1 - p) * math.pow(p, d - 1) * 1000000000L))
      val wRows = wFp.zipWithIndex
        .map { case (w, i) => s"(CAST(${i + 1} AS BIGINT), CAST($w AS BIGINT))" }
        .mkString(", ")
      Some(s"""WITH w(d, w_fp) AS (VALUES $wRows),
              |docs AS (
              |  SELECT doc_id,
              |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
              |         CAST(length(text) AS BIGINT) AS n_chars
              |  FROM documents),
              |ra AS (
              |  SELECT doc_id, r AS ra FROM (
              |    SELECT doc_id, CAST(row_number() OVER (
              |      ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS r
              |    FROM docs) WHERE r <= $K),
              |rb AS (
              |  SELECT doc_id, r AS rb FROM (
              |    SELECT doc_id, CAST(row_number() OVER (
              |      ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS r
              |    FROM docs) WHERE r <= $K),
              |joint AS (
              |  SELECT greatest(ra.ra, rb.rb) AS m
              |  FROM ra JOIN rb USING (doc_id)),
              |curve AS (
              |  SELECT w.d, CAST(COUNT(joint.m) AS BIGINT) AS overlap, w.w_fp
              |  FROM w LEFT JOIN joint ON joint.m <= w.d
              |  GROUP BY w.d, w.w_fp)
              |SELECT d, overlap,
              |       CAST((w_fp * overlap) // d AS BIGINT) AS contrib_fp,
              |       CAST(SUM((w_fp * overlap) // d) OVER (
              |         ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              |         AND CURRENT ROW) AS BIGINT) AS rbo_fp,
              |       CAST(CAST(SUM((w_fp * overlap) // d) OVER (
              |         ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
              |         AND CURRENT ROW) AS BIGINT) AS DOUBLE) / 1000000000.0
              |         AS rbo
              |FROM curve ORDER BY d""".stripMargin)
    }
  )

  /** Q187 — token-budget mixture planner: given per-language target
    * mixture weights (the knob every pretraining run sets), compute the
    * LARGEST total token budget the corpus can serve without repeating
    * any language's data, and each language's planned tokens + sampling
    * rate at that budget. The binding constraint is the language whose
    * supply/weight ratio is smallest (rate_ppm = 1 000 000); everything
    * else is down-sampled. This is the static plan that q67's mixture
    * SAMPLER executes and q149's PPS weights refine — here the PLANNING
    * arithmetic itself is the query.
    *
    * All arithmetic is integer (ppm weights, floor divisions), so the
    * plan is bit-identical cross-engine with no FP in the path. One
    * token-count aggregate keyed on lang (the corpus pass), then
    * constant-sized planning math — at 100 TB the plan costs exactly
    * one combinable rollup of per-doc token counts. The ×10^6 products
    * are REASSOCIATED through the floor identity
    * ⌊t·M/w⌋ = (t div w)·M + ⌊(t mod w)·M/w⌋ so every intermediate
    * stays under 2^63 for per-language supplies up to ~9.2e12 tokens
    * (the naive t·10^6 overflows at 9.2e12 TOTAL — i.e. well under one
    * 100 TB corpus); beyond that, swap the ppm lattice for DECIMAL(38)
    * arithmetic.
    */
  val q187 = Query(
    "q187_mixture_plan",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val weights = Seq(("en", 400000L), ("de", 200000L), ("es", 150000L),
        ("fr", 150000L), ("zh", 100000L)).toDF("lang", "weight_ppm")
      val supply = Tables.documents(s, dir)
        .select(col("lang"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens"))
        .groupBy("lang").agg(sum(col("n_tokens")).as("tokens"))
        .join(broadcast(weights), "lang")
      val budget = supply
        .select(expr("(tokens div weight_ppm) * 1000000 + " +
          "((tokens % weight_ppm) * 1000000) div weight_ppm").as("cap"))
        .agg(min(col("cap")).as("budget"))
      supply.crossJoin(broadcast(budget))
        .withColumn("planned_tokens",
          expr("(budget div 1000000) * weight_ppm + " +
            "((budget % 1000000) * weight_ppm) div 1000000"))
        .select(col("lang"), col("weight_ppm"), col("tokens"), col("budget"),
          col("planned_tokens"),
          expr("(planned_tokens div tokens) * 1000000 + " +
            "((planned_tokens % tokens) * 1000000) div tokens")
            .as("rate_ppm"))
        .orderBy("lang")
    },
    Some("""WITH w(lang, weight_ppm) AS (
           |  VALUES ('en', 400000), ('de', 200000), ('es', 150000),
           |         ('fr', 150000), ('zh', 100000)),
           |supply AS (
           |  SELECT d.lang, CAST(w.weight_ppm AS BIGINT) AS weight_ppm,
           |         CAST(SUM(CAST(len(regexp_extract_all(d.text, '\S+')) AS BIGINT))
           |              AS BIGINT) AS tokens
           |  FROM documents d JOIN w ON d.lang = w.lang
           |  GROUP BY 1, 2),
           |b AS (SELECT CAST(MIN((tokens // weight_ppm) * 1000000
           |                 + ((tokens % weight_ppm) * 1000000) // weight_ppm)
           |             AS BIGINT) AS budget
           |      FROM supply),
           |p AS (SELECT s.*, b.budget,
           |             CAST((b.budget // 1000000) * weight_ppm
           |                  + ((b.budget % 1000000) * weight_ppm) // 1000000 AS BIGINT) AS planned_tokens
           |      FROM supply s, b)
           |SELECT lang, weight_ppm, tokens, budget, planned_tokens,
           |       CAST((planned_tokens // tokens) * 1000000
           |            + ((planned_tokens % tokens) * 1000000) // tokens AS BIGINT) AS rate_ppm
           |FROM p ORDER BY lang""".stripMargin)
  )

  /** Q188 — packing-efficiency audit of q78's sequence packing: per
    * language, how many 512-token training sequences the packed stripes
    * produce, how many budget tokens the per-stripe tails waste, and how
    * many docs straddle a sequence boundary (the docs a non-spanning
    * packer would have to pad around or truncate). Utilization is the
    * one number a pretraining-ingest owner watches; boundary crossings
    * price the alternative "no doc spans a boundary" policy.
    *
    * The stripe offsets REUSE q78's exact definition (same shard hash,
    * same running-sum window, same integer divisions) so the audit can
    * never drift from the packing it audits. One (lang, shard) window
    * pass + one combinable per-lang rollup; the only FP op is the final
    * utilization division.
    */
  val q188 = Query(
    "q188_pack_efficiency",
    (s, dir) => {
      val budget = 512L
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.Canon.md5Residue(col("doc_id").cast("string"), 8).as("shard"),
          size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
            .cast("long").as("n_tokens"))
        .withColumn("end_tok", sum(col("n_tokens")).over(w))
        .withColumn("start_tok", col("end_tok") - col("n_tokens"))
        .withColumn("crosses",
          col("n_tokens") > 0 &&
            expr(s"start_tok div $budget") =!= expr(s"(end_tok - 1) div $budget"))
      val stripes = packed.groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("stripe_tokens"),
          sum(when(col("crosses"), 1L).otherwise(0L)).as("crossings"))
        .withColumn("n_seqs", expr(s"(stripe_tokens + ${budget - 1}) div $budget"))
        .withColumn("tail_waste", col("n_seqs") * budget - col("stripe_tokens"))
      stripes.groupBy("lang")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("stripe_tokens")).as("total_tokens"),
          sum(col("n_seqs")).as("n_seqs"),
          sum(col("tail_waste")).as("waste_tokens"),
          sum(col("crossings")).as("boundary_docs"))
        .withColumn("utilization",
          col("total_tokens").cast("double") /
            (col("n_seqs") * budget).cast("double"))
        .orderBy("lang")
    },
    Some("""WITH t AS (
           |  SELECT doc_id, lang,
           |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
           |         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           |  FROM documents),
           |o AS (
           |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
           |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_tok
           |  FROM t),
           |p AS (
           |  SELECT *, end_tok - n_tokens AS start_tok,
           |         n_tokens > 0 AND (end_tok - n_tokens) // 512 <> (end_tok - 1) // 512 AS crosses
           |  FROM o),
           |stripes AS (
           |  SELECT lang, shard, COUNT(*) AS n_docs,
           |         SUM(n_tokens) AS stripe_tokens,
           |         SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS crossings,
           |         (SUM(n_tokens) + 511) // 512 AS n_seqs
           |  FROM p GROUP BY 1, 2)
           |SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           |       CAST(SUM(stripe_tokens) AS BIGINT) AS total_tokens,
           |       CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
           |       CAST(SUM(n_seqs * 512 - stripe_tokens) AS BIGINT) AS waste_tokens,
           |       CAST(SUM(crossings) AS BIGINT) AS boundary_docs,
           |       CAST(SUM(stripe_tokens) AS DOUBLE)
           |         / CAST(SUM(n_seqs) * 512 AS DOUBLE) AS utilization
           |FROM stripes GROUP BY lang ORDER BY lang""".stripMargin)
  )

  /** Q205 — per-epoch training-data shuffle + sharding: every training
    * epoch needs its OWN deterministic permutation of the corpus
    * (re-feeding one fixed order measurably hurts convergence; an
    * irreproducible order makes runs undebuggable), materialized as
    * (epoch, shard, position) coordinates a data loader reads
    * sequentially. Permutation key = the portable md5 residue of
    * (doc_id, epoch) — bit-stable across engines, partitionings, and
    * retries (the q42/q156 membership device); shard = key mod 8 (a
    * modular split of an already-uniform key, so shards balance);
    * position = rank within (epoch, shard) by (key, doc_id) — a
    * PARTITIONED window, never a global sort: at 100 TB each epoch's
    * order materializes with shard-local sorts only, which is exactly
    * how training shards are written anyway. 3 epochs × |docs| rows.
    */
  val q205 = Query(
    "q205_epoch_shuffle",
    (s, dir) => {
      val nShards = 8
      val keyed = Tables.documents(s, dir)
        .select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(1), lit(3))))
        .withColumn("u", graft.Canon.md5Residue(
          concat(lit("ep:"), col("epoch"), lit(":"), col("doc_id")),
          1000000007L))
        .withColumn("shard", pmod(col("u"), lit(nShards)).cast("long"))
      keyed
        .withColumn("pos", row_number().over(
          Window.partitionBy("epoch", "shard")
            .orderBy(col("u").asc, col("doc_id").asc)).cast("long"))
        .select(col("epoch").cast("long").as("epoch"), col("shard"),
          col("pos"), col("doc_id"))
        .orderBy("epoch", "shard", "pos")
    },
    Some("""WITH keyed AS (
           |  SELECT epoch, doc_id,
           |         CAST(concat('0x', substr(md5(concat(
           |           'ep:', CAST(epoch AS VARCHAR), ':',
           |           CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           |           % 1000000007 AS u
           |  FROM documents, unnest(generate_series(1, 3)) AS t(epoch))
           |SELECT CAST(epoch AS BIGINT) AS epoch,
           |       CAST(u % 8 AS BIGINT) AS shard,
           |       CAST(row_number() OVER (PARTITION BY epoch, u % 8
           |            ORDER BY u, doc_id) AS BIGINT) AS pos,
           |       doc_id
           |FROM keyed
           |ORDER BY epoch, shard, pos""".stripMargin)
  )

  /** Q215 — intra-document REPETITION signals (the Gopher/MassiveText
    * quality-filter rules, Rae et al. §A1.1): per document, the
    * occupancy of DUPLICATED 3-gram occurrences and the share of the
    * single most frequent 2-gram — the two strongest boilerplate /
    * degenerate-generation tells. N-grams come from codegen'd
    * `transform`+`slice` over the token array (no window, no UDF); the
    * per-doc aggregation is one keyed groupBy — embarrassingly parallel
    * at any corpus size, the map-side-combinable shape a 100 TB quality
    * pass needs. Counts stay exact BIGINT; the flag thresholds (>20 %
    * duplicated-3-gram occupancy or >10 % top-2-gram share) are
    * evaluated on exact integer cross-multiplication, so the
    * cross-engine hash can never hinge on float division. */
  val q215 = Query(
    "q215_repetition_signal",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      def grams(n: Int) = toks
        .filter(size(col("toks")) >= n) // docs shorter than n have no n-gram;
        // without the guard sequence(1, size-(n-1)) descends and slice(toks,0,n)
        // throws — the oracle drops these docs via its w=n filter, so must we
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), " +
            s"i -> array_join(slice(toks, i, $n), ' '))")).as("g"))
      val d3 = grams(3).groupBy("doc_id", "g")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
          .cast("long").as("n_dup3"),
          sum(col("c")).cast("long").as("n_3grams"))
      val d2 = grams(2).groupBy("doc_id", "g")
        .agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(max(col("c")).cast("long").as("top2_n"),
          sum(col("c")).cast("long").as("n_2grams"))
      d3.join(d2, "doc_id")
        .select(col("doc_id"), col("n_3grams"), col("n_dup3"),
          col("n_2grams"), col("top2_n"),
          (col("n_dup3") * lit(5L) > col("n_3grams") ||
            col("top2_n") * lit(10L) > col("n_2grams"))
            .cast("long").as("flagged"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, u.tok, u.pos
           |  FROM documents,
           |  LATERAL (SELECT unnest(string_split(text, ' ')) AS tok,
           |                  unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos) u),
           |g3 AS (
           |  SELECT doc_id,
           |         array_to_string(list(tok) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING), ' ') AS g,
           |         count(*) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS w
           |  FROM toks),
           |g2 AS (
           |  SELECT doc_id,
           |         array_to_string(list(tok) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING), ' ') AS g,
           |         count(*) OVER (PARTITION BY doc_id ORDER BY pos
           |           ROWS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS w
           |  FROM toks),
           |a3 AS (
           |  SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup3,
           |         CAST(SUM(c) AS BIGINT) AS n_3grams
           |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g3 WHERE w = 3
           |        GROUP BY doc_id, g) GROUP BY doc_id),
           |a2 AS (
           |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top2_n,
           |         CAST(SUM(c) AS BIGINT) AS n_2grams
           |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM g2 WHERE w = 2
           |        GROUP BY doc_id, g) GROUP BY doc_id)
           |SELECT a3.doc_id, n_3grams, n_dup3, n_2grams, top2_n,
           |       CAST(n_dup3 * 5 > n_3grams OR top2_n * 10 > n_2grams
           |            AS BIGINT) AS flagged
           |FROM a3 JOIN a2 ON a3.doc_id = a2.doc_id
           |ORDER BY a3.doc_id""".stripMargin)
  )

  /** Q222 — DSIR-shaped data selection: hashed n-gram importance
    * weighting (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling") restated exactly. The pipeline's
    * structure is DSIR verbatim: (1) featurize every document as
    * hashed unigram+bigram counts over B=64 buckets (md5-derived — the
    * engine's one cross-engine hash, q126's device); (2) estimate the
    * TARGET distribution (here: the `lang='en'` sub-corpus, the
    * fixture's stand-in for "looks like the high-quality target") and
    * the RAW distribution (the whole corpus) as smoothed per-bucket
    * probabilities; (3) score every document by its feature counts
    * against the per-bucket contrast; (4) keep the top-K as the
    * selected training subset.
    *
    * One deliberate restatement for CROSS-ENGINE EXACTNESS: the paper
    * scores with Σ n_b·log(p̂_t(b)/p̂_r(b)); a libm log would make the
    * hash gate flaky, so the per-bucket weight is the SMOOTHED
    * PROBABILITY CONTRAST cross-multiplied to one exact BIGINT —
    * Δ_b = (n_t(b)+1)·(N_r+B) − (n_r(b)+1)·(N_t+B), i.e.
    * (p̂_t(b) − p̂_r(b)) scaled by the positive constant
    * (N_t+B)(N_r+B) — a monotone-in-p̂ linear discriminant of the same
    * bucket-contrast shape (the q215 integer-cross-multiplication
    * device). Magnitudes stay far under 2^63 at any tested SF
    * (Σ_b n_doc(b)·|Δ_b| ≤ grams/doc · (N_t+1)·(N_r+B) ≈ 10^15 at
    * sf0.1).
    *
    * Scale shape: featurize is map-side explode; the two distribution
    * estimates are B-row aggregates (broadcast back); per-doc scoring
    * is one (doc_id, bucket)-combinable sum + a broadcast join with
    * the 64-row weight table; selection is TakeOrderedAndProject
    * (top-K never sorts the corpus) with the rank window over the
    * already-cut K rows. Nothing shuffles wider than doc_id. */
  /** The DSIR featurizer shared by [[q222]] and the streaming
    * distribution store ([[q225]] /
    * [[graft.streaming.StreamingPipeline.maintainDsirQuery]]): hashed
    * unigram+bigram buckets over `text`, one row per gram, with
    * `passthrough` columns riding along (the stream needs the CDF's
    * change sign). */
  private[graft] def dsirBuckets(df: org.apache.spark.sql.DataFrame,
      b: Int = 64,
      passthrough: Seq[String] = Seq("lang")): org.apache.spark.sql.DataFrame = {
    val keep = passthrough.map(col)
    df.select(keep :+
        expr("filter(split(lower(text), '[^a-z]+'), x -> x <> '')")
          .as("ws"): _*)
      .select(keep :+ explode(concat(col("ws"), expr(
        """CASE WHEN size(ws) >= 2 THEN
          |  transform(sequence(1, size(ws) - 1),
          |    i -> concat(element_at(ws, i), '_', element_at(ws, i + 1)))
          |ELSE array() END""".stripMargin))).as("g"): _*)
      .withColumn("b",
        graft.Canon.md5Residue(concat(lit("d#"), col("g")), b))
  }

  val q222 = Query(
    "q222_dsir_importance",
    (s, dir) => {
      val B = 64
      val grams = dsirBuckets(Tables.documents(s, dir), B,
        passthrough = Seq("doc_id", "lang"))
      // BOTH distributions in one combinable pass (raw = every gram,
      // target = the en sub-corpus via a conditional count), then the
      // 64-row weight table: smoothed-contrast Δ_b as exact BIGINT
      val dist = grams.groupBy("b").agg(
        count(lit(1)).as("n_r"),
        count_if(col("lang") === "en").as("n_t"))
      val totals = dist.agg(sum(col("n_r")).as("tot_r"),
        sum(col("n_t")).as("tot_t"))
      val delta = dist.crossJoin(broadcast(totals))
        .select(col("b"),
          ((col("n_t") + 1) * (col("tot_r") + B) -
            (col("n_r") + 1) * (col("tot_t") + B)).as("w_b"))
      val scored = grams.groupBy("doc_id", "b")
        .agg(count(lit(1)).as("n"))
        .join(broadcast(delta), Seq("b"))
        .groupBy("doc_id")
        .agg(sum(col("n") * col("w_b")).as("score"))
      val top = scored
        .join(Tables.documents(s, dir)
          .select("doc_id", "lang", "source"), Seq("doc_id"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          col("lang"), col("source"), col("score"))
        .orderBy("rank")
    },
    Some("""WITH ws AS (
           |  SELECT doc_id, lang, source,
           |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
           |                     x -> x <> '') AS ws
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, lang, u.w, u.i
           |  FROM ws,
           |  LATERAL (SELECT unnest(ws) AS w,
           |                  unnest(range(1, len(ws) + 1)) AS i) u),
           |grams AS (
           |  SELECT doc_id, lang, w AS g FROM toks
           |  UNION ALL
           |  SELECT doc_id, lang,
           |         concat(w, '_', lead(w) OVER (PARTITION BY doc_id ORDER BY i)) AS g
           |  FROM toks
           |  QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL),
           |hashed AS (
           |  SELECT doc_id, lang,
           |         CAST(concat('0x', substr(md5(concat('d#', g)), 1, 15))
           |              AS BIGINT) % 64 AS b
           |  FROM grams),
           |rawc AS (SELECT b, COUNT(*) AS n_r FROM hashed GROUP BY b),
           |tgtc AS (SELECT b, COUNT(*) AS n_t FROM hashed
           |         WHERE lang = 'en' GROUP BY b),
           |tot AS (SELECT (SELECT COUNT(*) FROM hashed) AS tot_r,
           |               (SELECT COUNT(*) FROM hashed WHERE lang = 'en') AS tot_t),
           |delta AS (
           |  SELECT rawc.b,
           |         (COALESCE(n_t, 0) + 1) * (tot_r + 64)
           |           - (n_r + 1) * (tot_t + 64) AS w_b
           |  FROM rawc LEFT JOIN tgtc ON rawc.b = tgtc.b CROSS JOIN tot),
           |scored AS (
           |  SELECT h.doc_id, CAST(SUM(n * w_b) AS BIGINT) AS score
           |  FROM (SELECT doc_id, b, COUNT(*) AS n FROM hashed
           |        GROUP BY doc_id, b) h
           |  JOIN delta ON h.b = delta.b
           |  GROUP BY h.doc_id)
           |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, s.doc_id)
           |            AS BIGINT) AS rank,
           |       s.doc_id, d.lang, d.source, score
           |FROM scored s JOIN documents d ON s.doc_id = d.doc_id
           |ORDER BY score DESC, s.doc_id
           |LIMIT 50""".stripMargin)
  )

  /** Q225 — the STREAMING-MAINTAINED DSIR distribution store
    * ([[graft.streaming.StreamingPipeline.maintainDsirQuery]]),
    * oracle-gated end-to-end: the documents corpus lands in three
    * commits plus one merge-on-read DV delete; the change-feed
    * maintenance adds inserted grams' buckets and SUBTRACTS the
    * deleted docs'; the final store (+ the q222 contrast weights
    * derived from it in O(64)) hash-matches DuckDB's full-corpus
    * recompute — the bitwise incremental ≡ batch proof, because
    * bucket counts are additive. This is how a growing crawl keeps
    * data-selection scores live without ever rescanning history. */
  val q225 = Query(
    "q225_dsir_stream_store",
    (s, dir) => {
      val root = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"),
        s"graft-dsirst-${math.abs(dir.hashCode).toString}")
      def wipe(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(java.nio.file.Files.deleteIfExists(_))
        }
      wipe(root)
      java.nio.file.Files.createDirectories(root)
      val src = root.resolve("docs_t").toString
      val store = root.resolve("dsir_store").toString
      val ckpt = root.resolve("ckpt").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text", "lang")
      import graft.sources.Sources
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0), src)
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 1), src)
      graft.streaming.StreamingPipeline
        .maintainDsirQuery(s, src, store, ckpt).awaitTermination()
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 2), src)
      // a GDPR-style erasure mid-stream: the store must SUBTRACT
      Sources.deleteWhereDv(s, src, pmod(col("doc_id"), lit(97)) === 0)
      graft.streaming.StreamingPipeline
        .maintainDsirQuery(s, src, store, ckpt).awaitTermination()
      val st = Sources.readVersion(s, store)
      val tot = st.agg(sum(col("n_r")).as("tot_r"),
        sum(col("n_t")).as("tot_t"))
      st.crossJoin(broadcast(tot))
        .select(col("b"), col("n_r"), col("n_t"),
          ((col("n_t") + 1) * (col("tot_r") + 64) -
            (col("n_r") + 1) * (col("tot_t") + 64)).as("w_b"))
        .orderBy("b")
    },
    Some("""WITH ws AS (
           |  SELECT doc_id, lang,
           |         list_filter(string_split_regex(lower(text), '[^a-z]+'),
           |                     x -> x <> '') AS ws
           |  FROM documents WHERE doc_id % 97 <> 0),
           |toks AS (
           |  SELECT doc_id, lang, u.w, u.i
           |  FROM ws,
           |  LATERAL (SELECT unnest(ws) AS w,
           |                  unnest(range(1, len(ws) + 1)) AS i) u),
           |grams AS (
           |  SELECT doc_id, lang, w AS g FROM toks
           |  UNION ALL
           |  SELECT doc_id, lang,
           |         concat(w, '_', lead(w) OVER (PARTITION BY doc_id ORDER BY i)) AS g
           |  FROM toks
           |  QUALIFY lead(w) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL),
           |hashed AS (
           |  SELECT lang,
           |         CAST(concat('0x', substr(md5(concat('d#', g)), 1, 15))
           |              AS BIGINT) % 64 AS b
           |  FROM grams),
           |rawc AS (
           |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n_r,
           |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_t
           |  FROM hashed GROUP BY b),
           |tot AS (SELECT SUM(n_r) AS tot_r, SUM(n_t) AS tot_t FROM rawc)
           |SELECT b, n_r, n_t,
           |       CAST((n_t + 1) * (tot_r + 64) - (n_r + 1) * (tot_t + 64)
           |            AS BIGINT) AS w_b
           |FROM rawc CROSS JOIN tot
           |ORDER BY b""".stripMargin)
  )

  /** Q230 — the TRAINING-DATA PIPELINE END-TO-END, one gated query:
    * language-ID (q32's marker argmax) → quality screen (q80's
    * Gopher-rule composite) → exact dedup (q27's lowest-id-per-digest
    * rule) → sequence packing (q78's 512-token cumulative-sum
    * assignment), each stage feeding the next, with per-stage survivor
    * counts as witness columns. The individual gates prove each
    * operator; THIS gate proves they compose — the actual shape a
    * FineWeb/Gopher-style corpus build runs nightly at 100 TB.
    *
    * Scale shape: stage 1-2 are explode → combinable aggregates keyed
    * on doc_id; stage 3 is one hash aggregate on the digest; stage 4
    * is a per-shard running sum (shards are the parallelism unit — no
    * global order anywhere). Nothing is pairwise, nothing is
    * collected; the composition adds NO shuffle beyond the stages'
    * own. Cross-engine exactness: every device is one an upstream gate
    * already hash-proved. */
  val q230 = Query(
    "q230_pipeline_e2e",
    (s, dir) => {
      import s.implicits._
      // each stage is pinned: the four stage counters and the final
      // pack would otherwise re-run every upstream stage per action
      // (the pipeline was computed ~3-4x over). Each stage's pin is
      // released as soon as the NEXT stage is materialized by its
      // counter (ADVICE r10: don't hold four caches for the session);
      // only s3 — the one the returned plan reads — stays pinned, and
      // ContextCleaner drops it when the plan is released.
      val docs = Tables.documents(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nInput = docs.count()
      // stage 1: language-ID, keep predicted-English docs
      val m = broadcast(markers.toDF("tok", "cand"))
      val wBest = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("cand").asc)
      val en = tokensWithPos(docs).join(m, "tok")
        .groupBy("doc_id", "cand").agg(count(lit(1)).as("score"))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1 && col("cand") === "en")
        .select("doc_id")
      val s1 = docs.join(en, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nLang = s1.count()
      docs.unpersist()
      // stage 2: quality screen (the q80 composite, as a filter)
      val base = s1.select(col("doc_id"), col("text"),
        size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "\\s", ""))
          .cast("long").as("n_glyphs"),
        size(regexp_extract_all(lower(col("text")),
          lit("\\b(the|and|of|to|a|in)\\b"), lit(0)))
          .cast("long").as("n_stop"))
      val distincts = tokensWithPos(s1).groupBy("doc_id")
        .agg(countDistinct(col("tok")).as("n_distinct"))
      val s2 = base.join(distincts, Seq("doc_id"), "left")
        .withColumn("n_distinct", coalesce(col("n_distinct"), lit(0L)))
        .withColumn("mean_tok_len", col("n_glyphs").cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double"))
        .withColumn("distinct_ratio", col("n_distinct").cast("double") /
          nullif(col("n_tokens"), lit(0)).cast("double"))
        .filter(col("n_tokens") >= 10 && col("n_tokens") <= 100000 &&
          col("mean_tok_len") >= 2.0 && col("mean_tok_len") <= 12.0 &&
          col("n_stop") >= 1 && col("distinct_ratio") >= 0.1)
        .select("doc_id", "text", "n_tokens")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nQuality = s2.count()
      s1.unpersist()
      // stage 3: exact dedup — lowest doc_id per normalized digest
      val keepers = s2.groupBy(
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
            .as("digest"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      val s3 = s2.join(keepers, Seq("doc_id"), "left_semi")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nUnique = s3.count()
      s2.unpersist()
      // stage 4: pack survivors into 512-token sequences per shard
      val budget = 512L
      val wPack = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s3.withColumn("shard",
          graft.Canon.md5Residue(col("doc_id").cast("string"), 8))
        .withColumn("end_tok", sum(col("n_tokens")).over(wPack))
        .withColumn("seq_id", expr(s"(end_tok - n_tokens) div $budget"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          (max(col("seq_id")) + 1).as("n_seqs"),
          sum(col("n_tokens")).as("n_tokens"))
        .withColumn("n_input", lit(nInput))
        .withColumn("n_lang_kept", lit(nLang))
        .withColumn("n_quality_kept", lit(nQuality))
        .withColumn("n_unique", lit(nUnique))
        .orderBy("shard")
    },
    Some(s"""WITH toks AS (
            |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
            |  FROM documents),
            |m(tok, cand) AS (VALUES $markerValuesSql),
            |scores AS (
            |  SELECT doc_id, cand, COUNT(*) AS score
            |  FROM toks JOIN m USING (tok) GROUP BY doc_id, cand),
            |en AS (
            |  SELECT doc_id FROM scores
            |  QUALIFY row_number() OVER (PARTITION BY doc_id
            |    ORDER BY score DESC, cand ASC) = 1 AND cand = 'en'),
            |s1 AS (SELECT d.* FROM documents d JOIN en USING (doc_id)),
            |base AS (
            |  SELECT doc_id, text,
            |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
            |         CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_glyphs,
            |         CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in)\\b')) AS BIGINT) AS n_stop
            |  FROM s1),
            |toks1 AS (
            |  SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS tok
            |  FROM s1),
            |dst AS (
            |  SELECT doc_id, COUNT(DISTINCT tok) AS n_distinct
            |  FROM toks1 WHERE tok <> '' GROUP BY doc_id),
            |s2 AS (
            |  SELECT b.doc_id, b.text, b.n_tokens
            |  FROM base b LEFT JOIN dst USING (doc_id)
            |  WHERE b.n_tokens BETWEEN 10 AND 100000
            |    AND CAST(b.n_glyphs AS DOUBLE) / CAST(NULLIF(b.n_tokens, 0) AS DOUBLE)
            |        BETWEEN 2.0 AND 12.0
            |    AND b.n_stop >= 1
            |    AND CAST(COALESCE(dst.n_distinct, 0) AS DOUBLE)
            |        / CAST(NULLIF(b.n_tokens, 0) AS DOUBLE) >= 0.1),
            |keepers AS (
            |  SELECT MIN(doc_id) AS doc_id FROM s2
            |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
            |s3 AS (SELECT s2.* FROM s2 JOIN keepers USING (doc_id)),
            |p AS (
            |  SELECT doc_id, n_tokens,
            |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
            |  FROM s3),
            |o AS (
            |  SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
            |               ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_tok
            |  FROM p),
            |agg AS (
            |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
            |         CAST(MAX(start_tok // 512) + 1 AS BIGINT) AS n_seqs,
            |         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
            |  FROM o GROUP BY shard),
            |w AS (
            |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_input,
            |         (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_lang_kept,
            |         (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_quality_kept,
            |         (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_unique)
            |SELECT shard, n_docs, n_seqs, n_tokens,
            |       n_input, n_lang_kept, n_quality_kept, n_unique
            |FROM agg, w ORDER BY shard""".stripMargin)
  )

  /** Q231 — PER-SOURCE FREQUENCY CAPPING (domain capping, the
    * Gopher/CommonCrawl diversity rule): no single source may
    * contribute more than `max(10, ⌈n/50⌉)` documents (an absolute
    * floor + a 2%-of-corpus share), keep order = lowest doc_id first.
    * Output: per-source totals, kept counts, and the derived cap as a
    * witness column.
    *
    * Scale shape — the part worth gating: counting is one combinable
    * aggregate; the RANK (the expensive per-source window) is paid
    * ONLY by sources already proven over the cap (a left-semi join
    * against the over-cap set), so a 100 TB corpus with a million
    * under-cap domains and a handful of mega-domains ranks just the
    * mega-domains. The cap derives from the corpus by the same
    * integer-exact rule in both engines. */
  val q231 = Query(
    "q231_source_cap",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.count()
      val cap = math.max(10L, math.ceil(n / 50.0).toLong)
      val counts = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      val over = counts.filter(col("n_docs") > cap).select("source")
      val w = Window.partitionBy("source").orderBy("doc_id")
      val keptOver = docs.join(over, Seq("source"), "left_semi")
        .select("doc_id", "source")
        .withColumn("rn", row_number().over(w))
        .groupBy("source")
        .agg(sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("kept_over"))
      counts.join(keptOver, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("kept_over"), col("n_docs")).as("n_kept"))
        .withColumn("cap", lit(cap))
        .orderBy("source")
    },
    Some("""WITH c AS (
           |  SELECT GREATEST(10, CAST(CEIL(COUNT(*) / 50.0) AS BIGINT)) AS cap
           |  FROM documents),
           |r AS (
           |  SELECT source,
           |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           |  FROM documents)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |       CAST(SUM(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_kept,
           |       cap
           |FROM r, c
           |GROUP BY source, cap
           |ORDER BY source""".stripMargin)
  )

  /** Q234 — TRAINED QUALITY CLASSIFIER (hashed Naive Bayes),
    * oracle-gated end to end INCLUDING the training pass: the
    * GPT-3/CCNet-style quality filter — learn a linear model over
    * hashed token features from labeled examples, score the held-out
    * corpus, keep what scores well. Gold labels come from a
    * deterministic keyword rule (the stand-in for "human-curated
    * reference pages"); an 80/20 md5 split separates train from test;
    * the model is per-bucket Laplace-smoothed class log-odds over
    * B=64 hashed unigram buckets ([[graft.Canon.md5Residue]], q126's
    * hashing trick — no fitted vocabulary to ship, the hash IS the
    * schema); scoring is score(d) = log prior-odds + Σ_b n_b·w_b.
    *
    * Cross-engine exactness (the q125 libm device): each per-bucket
    * weight is round(ln(exact-BIGINT-ratio), 6) clamped to
    * DECIMAL(12,6) — ONE log per (bucket), never per row — and the
    * per-doc score is an order-free DECIMAL sum, so train AND
    * inference hash-match DuckDB bit for bit. The 64-bucket weight
    * grid is built over range(64), so buckets unseen in training get
    * their smoothed prior weight instead of silently dropping.
    * NbClassifierSpec gates held-out accuracy well above the class
    * prior — the model genuinely recovers the labeling rule through
    * the hash.
    *
    * Scale shape: training is ONE combinable groupBy(bucket) over the
    * labeled grams (map-side partial aggregation; the model is 64
    * rows); inference is a (doc_id, bucket) combinable count joined to
    * the BROADCAST weight table — at 100 TB neither pass shuffles
    * anything wider than doc_id, and the fitted model ships to
    * executors as one broadcast, exactly how a fastText-style filter
    * deploys. */
  val q234 = Query(
    "q234_nb_quality",
    (s, dir) => {
      val B = 64
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr(
            "filter(split(lower(text), '[^a-z]+'), x -> x <> '')"))
            .as("tok"))
      // ONE tokenize+md5 pass, reduced to per-(doc, bucket) counts and
      // materialized (localCheckpoint): the labeling, training, and
      // inference stages below all consume this ≤64-rows-per-doc
      // relation instead of each re-running the token explode + per-
      // token md5 (three full corpus passes in the previous shape —
      // guide §2.3 "aggregate before you shuffle", measured 3.1 s →
      // ~1.3 s read at sf0.1). Gold keyword hits ride the same pass as
      // two extra combinable counters.
      val counts = toks
        .withColumn("b",
          graft.Canon.md5Residue(concat(lit("nb#"), col("tok")), B))
        .groupBy("doc_id", "b").agg(
          count(lit(1)).as("n"),
          count_if(col("tok").isin("hash", "join", "merge", "table"))
            .as("kp"),
          count_if(col("tok").isin("slow", "small", "filter", "row"))
            .as("kn"))
        .localCheckpoint()
      val gold = counts.groupBy("doc_id").agg(
        (sum(col("kp")) >= sum(col("kn"))).cast("long").as("g"))
      val split = gold.select(col("doc_id"), col("g"),
        (graft.Canon.md5Residue(
          concat(lit("nbsplit#"), col("doc_id")), 5) < 4).as("train"))
      // ---- train: one combinable pass over the labeled counts --------
      val tb = counts
        .join(split.filter(col("train")).select("doc_id", "g"), "doc_id")
        .groupBy("b").agg(
          sum(when(col("g") === 1, col("n")).otherwise(0L)).as("cp"),
          sum(when(col("g") === 0, col("n")).otherwise(0L)).as("cn"))
      val tot = tb.agg(
        coalesce(sum("cp"), lit(0L)).as("np"),
        coalesce(sum("cn"), lit(0L)).as("nn"))
      val w = s.range(B).toDF("b").crossJoin(broadcast(tot))
        .join(tb, Seq("b"), "left")
        .select(col("b"),
          round(log(
            ((coalesce(col("cp"), lit(0L)) + 1) * (col("nn") + B))
              .cast("double") /
            ((coalesce(col("cn"), lit(0L)) + 1) * (col("np") + B))
              .cast("double")), 6)
            .cast("decimal(12,6)").as("wb"))
      val prior = split.filter(col("train")).agg(
        round(log(
          (count_if(col("g") === 1) + 1).cast("double") /
            (count_if(col("g") === 0) + 1).cast("double")), 6)
          .cast("decimal(12,6)").as("p0"))
      // ---- inference on the held-out split --------------------------
      val test = split.filter(!col("train")).select("doc_id", "g")
      val docb = counts.join(test.select("doc_id"), "doc_id")
        .select("doc_id", "b", "n")
      val sums = docb.join(broadcast(w), Seq("b"))
        .groupBy("doc_id").agg(sum(col("n") * col("wb")).as("sw"))
      test.join(sums, Seq("doc_id"), "left")
        .crossJoin(broadcast(prior))
        .select(col("doc_id"), col("g").as("gold"),
          (coalesce(col("sw"), lit(0).cast("decimal(12,6)")) + col("p0"))
            .as("score_dec"))
        .select(col("doc_id"), col("gold"),
          (col("score_dec") >= 0).cast("long").as("pred"),
          col("score_dec").cast("decimal(18,6)").cast("double")
            .as("score"),
          ((col("score_dec") >= 0).cast("long") === col("gold"))
            .cast("long").as("correct"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |         unnest(list_filter(
           |           string_split_regex(lower(text), '[^a-z]+'),
           |           x -> x <> '')) AS tok
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id, tok,
           |         CAST(concat('0x', substr(md5(concat('nb#', tok)), 1, 15))
           |              AS BIGINT) % 64 AS b
           |  FROM toks),
           |gold AS (
           |  SELECT doc_id,
           |         CAST(COUNT(*) FILTER (WHERE tok IN
           |                ('hash','join','merge','table'))
           |              >= COUNT(*) FILTER (WHERE tok IN
           |                ('slow','small','filter','row')) AS BIGINT) AS g
           |  FROM hashed GROUP BY 1),
           |split AS (
           |  SELECT doc_id, g,
           |         CAST(concat('0x', substr(md5(concat('nbsplit#', doc_id)),
           |              1, 15)) AS BIGINT) % 5 < 4 AS train
           |  FROM gold),
           |tb AS (
           |  SELECT b, COUNT(*) FILTER (WHERE g = 1) AS cp,
           |         COUNT(*) FILTER (WHERE g = 0) AS cn
           |  FROM hashed JOIN split USING (doc_id) WHERE train GROUP BY 1),
           |tot AS (SELECT COALESCE(SUM(cp), 0) AS np,
           |               COALESCE(SUM(cn), 0) AS nn FROM tb),
           |w AS (
           |  SELECT r.b,
           |         CAST(round(ln(
           |           ((COALESCE(cp, 0) + 1) * (nn + 64))::DOUBLE
           |             / ((COALESCE(cn, 0) + 1) * (np + 64))::DOUBLE), 6)
           |           AS DECIMAL(12,6)) AS wb
           |  FROM (SELECT unnest(range(64)) AS b) r
           |  CROSS JOIN tot LEFT JOIN tb ON r.b = tb.b),
           |p0 AS (
           |  SELECT CAST(round(ln(
           |           (COUNT(*) FILTER (WHERE g = 1) + 1)::DOUBLE
           |             / (COUNT(*) FILTER (WHERE g = 0) + 1)::DOUBLE), 6)
           |           AS DECIMAL(12,6)) AS p0
           |  FROM split WHERE train),
           |docb AS (
           |  SELECT doc_id, b, COUNT(*) AS n
           |  FROM hashed JOIN split USING (doc_id)
           |  WHERE NOT train GROUP BY 1, 2),
           |sums AS (
           |  SELECT doc_id, SUM(n * wb) AS sw
           |  FROM docb JOIN w USING (b) GROUP BY 1),
           |outq AS (
           |  SELECT s.doc_id, s.g AS gold,
           |         COALESCE(sw, CAST(0 AS DECIMAL(12,6)))
           |           + (SELECT p0 FROM p0) AS score_dec
           |  FROM split s LEFT JOIN sums USING (doc_id)
           |  WHERE NOT s.train)
           |SELECT doc_id, gold,
           |       CAST(score_dec >= 0 AS BIGINT) AS pred,
           |       CAST(CAST(score_dec AS DECIMAL(18,6)) AS DOUBLE) AS score,
           |       CAST((score_dec >= 0) = (gold = 1) AS BIGINT) AS correct
           |FROM outq ORDER BY doc_id""".stripMargin)
  )

  /** Q238 — BENCHMARK DECONTAMINATION: flag every training document
    * sharing an exact n-token sequence with the held-out evaluation
    * set — the GPT-3/Llama n-gram decontamination pass every serious
    * pretraining pipeline runs before training (a benchmark answer
    * leaking into the training set invalidates the eval). The
    * "benchmark" here is the deterministic fixture slice
    * `doc_id % 53 = 7` (~2% of docs, the bounded-eval-set shape);
    * production uses 13-grams, this corpus's vocabulary makes 4 the
    * smallest n with real cross-doc collisions — the dataflow is
    * n-independent. Output: each contaminated training doc with its
    * shared-gram count, total distinct grams, and contamination share.
    *
    * Scale shape: gram construction is a per-doc bounded window (no
    * global sort); a real eval set's gram relation is small
    * (benchmarks are thousands of docs, the corpus is billions) and
    * the planner broadcasts it from size statistics — no hint, so the
    * fixture's corpus-proportional membership rule degrades to a keyed
    * shuffle join instead of a forced corpus-sized broadcast; the
    * probe is one equi-join keyed on the gram + a combinable per-doc
    * count. At 100 TB the join key would be a 64-bit gram hash
    * (8 B/key instead of the string; the [[tokHash]] device) — the
    * gate joins raw strings so the oracle match stays exact rather
    * than collision-probabilistic. */
  /** The decontamination core, n and the benchmark membership rule as
    * knobs (TextDedupSpec drives it with planted overlaps at n = 13,
    * the production setting). Returns one row per CONTAMINATED
    * training doc: (doc_id, n_shared, n_grams, share). */
  def decontaminate(docs: DataFrame, n: Int,
      isBench: org.apache.spark.sql.Column): DataFrame = {
    require(n >= 2, "decontaminate needs n >= 2")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until n).map(i => lead(col("tok"), i).over(w))
    val parts = col("tok") +:
      (1 until n).map(i => element_at(col("__ls"), i))
    val grams = tokensWithPos(docs)
      .withColumn("__ls", array(leads: _*))
      .filter(element_at(col("__ls"), n - 1).isNotNull)
      .select(col("doc_id"), concat_ws(" ", parts: _*).as("g"))
      .distinct()
    // NO broadcast hint: a REAL benchmark is bounded (thousands of
    // docs) and the planner broadcasts it from size statistics; the
    // fixture's modulus membership rule makes the bench side
    // corpus-PROPORTIONAL (~2% of all grams), and a forced broadcast
    // of a corpus-proportional relation is exactly the scale failure
    // PlanShapeSpec exists to kill — let AQE pick per actual size
    val bench = grams.filter(isBench).select("g").distinct()
    val train = grams.filter(!isBench)
    val hits = train.join(bench, Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val totals = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    hits.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("share"))
      .orderBy("doc_id")
  }

  val q238 = Query(
    "q238_decontaminate",
    (s, dir) => decontaminate(Tables.documents(s, dir), n = 4,
      isBench = pmod(col("doc_id"), lit(53)) === 7),
    Some("""WITH toks AS (
           |  SELECT doc_id, i AS pos, toks[i] AS tok FROM (
           |    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
           |    FROM documents) t, unnest(range(1, len(t.toks)+1)) u(i)),
           |g4 AS (
           |  SELECT doc_id,
           |         tok || ' ' || lead(tok, 1) OVER w
           |             || ' ' || lead(tok, 2) OVER w
           |             || ' ' || lead(tok, 3) OVER w AS g,
           |         lead(tok, 3) OVER w AS l3
           |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
           |  QUALIFY l3 IS NOT NULL),
           |grams AS (SELECT DISTINCT doc_id, g FROM g4),
           |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 53 = 7),
           |train AS (SELECT * FROM grams WHERE doc_id % 53 <> 7),
           |hits AS (
           |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           |  FROM train t JOIN bench b USING (g) GROUP BY t.doc_id),
           |totals AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
           |  FROM train GROUP BY doc_id)
           |SELECT h.doc_id, h.n_shared, tt.n_grams,
           |       CAST(h.n_shared AS DOUBLE) / CAST(tt.n_grams AS DOUBLE)
           |         AS share
           |FROM hits h JOIN totals tt USING (doc_id)
           |ORDER BY h.doc_id""".stripMargin)
  )

  /** Q242 — PII SCRUBBING: redact emails / phone numbers / IPv4
    * addresses with typed placeholder tokens and report per-doc
    * redaction counts — the privacy pass every pretraining pipeline
    * runs over crawled text (C4/FineWeb ship exactly this shape). The
    * fixture corpus carries no PII, so the query PLANTS deterministic
    * PII first (identically in both engines — the operator under test
    * is the scrubber, the injector simulates the dirty crawl), scrubs
    * it, and emits counts + the clean text's digest + a `residue`
    * guard proving no pattern survives scrubbing.
    *
    * Regex parity: all three patterns are RE2-safe (no backrefs, no
    * lookaround) and anchored by `\b`/charclass edges, so Java's NFA
    * and DuckDB's RE2 produce identical spans — the hash gate rides
    * that. Scrub order is fixed (email → phone → IP) in both engines.
    *
    * Scale shape: pure per-row regexp work inside WholeStageCodegen —
    * no shuffle, no state; the 100 TB form is the identical plan. */
  /** Q243 — SPAN-LEVEL contamination REMOVAL, q238's surgical sibling:
    * instead of dropping a contaminated document wholesale, remove
    * exactly the tokens covered by any benchmark-matching n-gram
    * window and keep the rest (the ablation-friendly variant — at
    * pretraining scale whole-doc dropping over-deletes when the leak
    * is one quoted sentence in a long document). Emits every training
    * doc with before/removed/after token counts and an md5 of the
    * kept token stream, so the gate pins the exact surviving text.
    *
    * Scale shape: gram windows are per-doc bounded; matched window
    * STARTS expand to covered positions via a bounded explode
    * (O(hits·n), hits are the rare case by construction); removal is
    * one anti-join keyed (doc_id, pos); reconstruction is a per-doc
    * sorted collect bounded by document length. Nothing global. */
  val q243 = Query(
    "q243_decontam_scrub",
    (s, dir) => {
      val n = 4
      val isBench = pmod(col("doc_id"), lit(53)) === 7
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val toks = tokensWithPos(Tables.documents(s, dir))
        .select("doc_id", "pos", "tok")
      val leads = (1 until n).map(i => lead(col("tok"), i).over(w))
      val parts = col("tok") +:
        (1 until n).map(i => element_at(col("__ls"), i))
      val gramsPos = toks
        .withColumn("__ls", array(leads: _*))
        .filter(element_at(col("__ls"), n - 1).isNotNull)
        .select(col("doc_id"), col("pos"),
          concat_ws(" ", parts: _*).as("g"))
      val bench = gramsPos.filter(isBench).select("g").distinct()
      val hitStarts = gramsPos.filter(!isBench)
        .join(bench, Seq("g")).select("doc_id", "pos")
      val covered = hitStarts
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
        .distinct()
      val trainToks = toks.filter(!isBench)
      val kept = trainToks.join(covered, Seq("doc_id", "pos"), "left_anti")
      val rebuilt = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_after"),
          array_sort(collect_list(struct(col("pos"), col("tok"))))
            .as("ordered"))
        .select(col("doc_id"), col("n_after"),
          concat_ws(" ",
            // ordered is sorted by pos; project the tokens
            expr("transform(ordered, x -> x.tok)")).as("clean"))
      val totals = trainToks.groupBy("doc_id")
        .agg(count(lit(1)).as("n_before"))
      totals.join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_before"),
          (col("n_before") - coalesce(col("n_after"), lit(0L)))
            .as("n_removed"),
          coalesce(col("n_after"), lit(0L)).as("n_after"),
          md5(coalesce(col("clean"), lit(""))).as("clean_digest"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, i AS pos, toks[i] AS tok FROM (
           |    SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
           |    FROM documents) t, unnest(range(1, len(t.toks)+1)) u(i)),
           |gp AS (
           |  SELECT doc_id, pos,
           |         tok || ' ' || lead(tok, 1) OVER w
           |             || ' ' || lead(tok, 2) OVER w
           |             || ' ' || lead(tok, 3) OVER w AS g,
           |         lead(tok, 3) OVER w AS l3
           |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
           |  QUALIFY l3 IS NOT NULL),
           |bench AS (SELECT DISTINCT g FROM gp WHERE doc_id % 53 = 7),
           |hits AS (
           |  SELECT t.doc_id, t.pos FROM gp t JOIN bench b USING (g)
           |  WHERE t.doc_id % 53 <> 7),
           |covered AS (
           |  SELECT DISTINCT doc_id, pos + d AS pos
           |  FROM hits, unnest(range(0, 4)) u(d)),
           |traintoks AS (SELECT * FROM toks WHERE doc_id % 53 <> 7),
           |kept AS (
           |  SELECT t.* FROM traintoks t
           |  ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.pos = c.pos),
           |rebuilt AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_after,
           |         string_agg(tok, ' ' ORDER BY pos) AS clean
           |  FROM kept GROUP BY doc_id),
           |totals AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_before
           |  FROM traintoks GROUP BY doc_id)
           |SELECT t.doc_id, t.n_before,
           |       t.n_before - COALESCE(r.n_after, 0) AS n_removed,
           |       COALESCE(r.n_after, 0) AS n_after,
           |       md5(COALESCE(r.clean, '')) AS clean_digest
           |FROM totals t LEFT JOIN rebuilt r USING (doc_id)
           |ORDER BY t.doc_id""".stripMargin)
  )

  val q242 = Query(
    "q242_pii_scrub",
    (s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" contact agent"), col("doc_id").cast("string"),
              lit("@mail.example.com now"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" call 555-"),
              (col("doc_id") % 900 + 100).cast("string"), lit("-"),
              (col("doc_id") % 9000 + 1000).cast("string")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
              lit(".0."), (col("doc_id") % 250).cast("string"),
              lit(" logged"))).otherwise(lit(""))).as("text"))
      dirty
        .withColumn("n_email",
          size(regexp_extract_all(col("text"), lit(email), lit(0)))
            .cast("long"))
        .withColumn("n_phone",
          size(regexp_extract_all(col("text"), lit(phone), lit(0)))
            .cast("long"))
        .withColumn("n_ip",
          size(regexp_extract_all(col("text"), lit(ip), lit(0)))
            .cast("long"))
        .withColumn("clean",
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>"))
        .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
          length(col("clean")).cast("long").as("clean_len"),
          md5(col("clean")).as("clean_digest"),
          (col("clean").rlike(email) || col("clean").rlike(phone) ||
            col("clean").rlike(ip)).as("residue"))
        .orderBy("doc_id")
    },
    Some("""WITH dirty AS (
           |  SELECT doc_id, text
           |    || CASE WHEN doc_id % 7 = 0 THEN ' contact agent'
           |         || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
           |       ELSE '' END
           |    || CASE WHEN doc_id % 11 = 0 THEN ' call 555-'
           |         || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
           |         || CAST(doc_id % 9000 + 1000 AS VARCHAR)
           |       ELSE '' END
           |    || CASE WHEN doc_id % 13 = 0 THEN ' from 10.'
           |         || CAST(doc_id % 256 AS VARCHAR) || '.0.'
           |         || CAST(doc_id % 250 AS VARCHAR) || ' logged'
           |       ELSE '' END AS text
           |  FROM documents),
           |scrubbed AS (
           |  SELECT doc_id, text,
           |         regexp_replace(regexp_replace(regexp_replace(text,
           |           '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           |           '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
           |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
           |           AS clean
           |  FROM dirty)
           |SELECT doc_id,
           |       CAST(len(regexp_extract_all(text,
           |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT)
           |         AS n_email,
           |       CAST(len(regexp_extract_all(text,
           |         '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
           |       CAST(len(regexp_extract_all(text,
           |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
           |         AS n_ip,
           |       CAST(length(clean) AS BIGINT) AS clean_len,
           |       md5(clean) AS clean_digest,
           |       (regexp_matches(clean,
           |          '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')
           |        OR regexp_matches(clean, '\b\d{3}-\d{3}-\d{4}\b')
           |        OR regexp_matches(clean,
           |          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS residue
           |FROM scrubbed
           |ORDER BY doc_id""".stripMargin)
  )

  /** Q239 — Unicode normalization battery, the pass that runs BEFORE
    * any tokenization/dedup/hash in a real pipeline: canonical NFC
    * composition (native codegen'd [[graft.plans.NfcNormalize]] —
    * Spark ships no normalize function), zero-width + C0-control
    * stripping, typographic unification (curly quotes → ASCII, en/em
    * dash → hyphen, NBSP → space), and whitespace-run collapse.
    * Without it "Cafe" + U+0301 and precomposed "Café" hash apart and
    * every downstream dedup / token count silently fractures.
    *
    * The fixture corpus is pure ASCII (normalization would be a no-op
    * identity gate), so like q242 the query PLANTS the dirt
    * deterministically — identically in both engines via codepoint
    * arithmetic (Scala `\\u` literals vs DuckDB `chr()`): decomposed
    * accents, NFC compatibility singletons (U+2126 OHM, U+212B
    * ANGSTROM — stability-guaranteed compositions, identical across
    * ICU and the JDK), zero-width space / ZWNBSP, NBSP/TAB/CRLF runs,
    * and a C0 control. Hash-gated on the exact cleaned text.
    *
    * Scale shape: pure map-side codegen'd string work — zero shuffle,
    * the ideal 100 TB pass. The NFC expression's `isNormalized` fast
    * path means the (dominant) already-clean fraction of a corpus
    * pays a scan, not a rewrite.
    */
  val q239 = Query(
    "q239_nfc_normalize",
    (s, dir) => {
      val zw = "[\\u200B\\u200C\\u200D\\uFEFF\\u0000-\\u0008\\u000B\\u000C" +
        "\\u000E-\\u001F\\u007F]"
      val dirty = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        concat(substring(col("text"), 1, 40),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" Cafe\u0301 \u2014 \u201Cq\u201D")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 1,
            lit(" x\u200By\uFEFFz")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 2,
            lit(" A\u00A0B\tC\r\nD")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 3,
            lit(" \u2126 and \u212B")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 4,
            concat(lit(" plain\u0007"), col("lang"))).otherwise(lit("")))
          .as("dirty"))
      dirty
        .withColumn("nfc", graft.plans.TextNormalize.nfcNative(col("dirty")))
        .withColumn("stripped", regexp_replace(col("nfc"), zw, ""))
        .withColumn("clean", trim(regexp_replace(
          translate(col("stripped"),
            "\u2018\u2019\u201C\u201D\u2013\u2014\u00A0", "''\"\"-- "),
          "\\s+", " ")))
        .select(col("doc_id"),
          (col("dirty") =!= col("nfc")).as("nfc_changed"),
          (length(col("nfc")) - length(col("stripped"))).cast("long")
            .as("n_removed"),
          length(col("clean")).cast("long").as("clean_len"),
          col("clean"), md5(col("clean")).as("digest"))
        .orderBy("doc_id")
    },
    Some("""WITH dirty AS (
           |  SELECT doc_id, substr(text, 1, 40)
           |    || CASE WHEN doc_id % 5 = 0 THEN ' Cafe' || chr(769) || ' '
           |         || chr(8212) || ' ' || chr(8220) || 'q' || chr(8221)
           |       ELSE '' END
           |    || CASE WHEN doc_id % 5 = 1 THEN ' x' || chr(8203) || 'y'
           |         || chr(65279) || 'z' ELSE '' END
           |    || CASE WHEN doc_id % 5 = 2 THEN ' A' || chr(160) || 'B'
           |         || chr(9) || 'C' || chr(13) || chr(10) || 'D'
           |       ELSE '' END
           |    || CASE WHEN doc_id % 5 = 3 THEN ' ' || chr(8486) || ' and '
           |         || chr(8491) ELSE '' END
           |    || CASE WHEN doc_id % 5 = 4 THEN ' plain' || chr(7) || lang
           |       ELSE '' END AS dirty
           |  FROM documents),
           |steps AS (
           |  SELECT doc_id, dirty, nfc_normalize(dirty) AS nfc,
           |         regexp_replace(nfc_normalize(dirty),
           |           '[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]',
           |           '', 'g') AS stripped
           |  FROM dirty),
           |cleaned AS (
           |  SELECT doc_id, dirty, nfc, stripped,
           |         trim(regexp_replace(
           |           translate(stripped,
           |             chr(8216)||chr(8217)||chr(8220)||chr(8221)
           |               ||chr(8211)||chr(8212)||chr(160),
           |             '''''""-- '),
           |           '\s+', ' ', 'g')) AS clean
           |  FROM steps)
           |SELECT doc_id, dirty <> nfc AS nfc_changed,
           |       CAST(length(nfc) - length(stripped) AS BIGINT) AS n_removed,
           |       CAST(length(clean) AS BIGINT) AS clean_len,
           |       clean, md5(clean) AS digest
           |FROM cleaned
           |ORDER BY doc_id""".stripMargin)
  )

  /** Q248 — the DERIVED REPLICA: an incrementally-maintained
    * normalize + quality-screen table off the corpus's NET change feed
    * ([[graft.streaming.StreamingPipeline.replicateTableNet]] with a
    * transform). Every pipeline keeps such derived corpora (cleaned
    * text, token counts, filter verdicts); recomputing them per
    * refresh rescans the corpus — this maintains them as O(net changed
    * docs) keyed merges, and a source compaction/purge drain commits
    * NOTHING on the derived table (rewrite transparency survives the
    * transform, spec-witnessed in CdcLineageSpec). The transform here
    * is whitespace-normalize → token-count → keep docs ≥ 40 tokens →
    * (doc_id, lang, n_tokens, clean_len, digest); a filtered-out doc
    * never lands and its eventual delete retires nothing.
    *
    * The gate drives three commits + a DV erasure + a compaction
    * through the maintainer; the endpoint hash-matches DuckDB's batch
    * recompute over the live corpus — derived-incremental ≡ batch.
    */
  val q248 = Query(
    "q248_derived_replica",
    (s, dir) => {
      val root = Tables.scratchRoot("derived", dir)
      val src = root.resolve("docs_t").toString
      val dst = root.resolve("derived").toString
      val ckpt = root.resolve("ckpt").toString
      import graft.sources.Sources
      val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 0), src)
      graft.sources.RowIds.enableRowIds(src)
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 1), src)
      def drain(): Unit = graft.streaming.StreamingPipeline
        .replicateTableNet(s, src, dst, "doc_id", ckpt, deriveClean)
        .awaitTermination()
      drain()
      Sources.commitVersion(docs.filter(pmod(col("doc_id"), lit(3)) === 2), src)
      Sources.deleteWhereDv(s, src, pmod(col("doc_id"), lit(11)) === 0)
      // pure layout work mid-lifecycle: nets to nothing downstream
      Sources.compactVersion(s, src, 64L)
      drain()
      Sources.readVersion(s, dst)
        .select("doc_id", "lang", "n_tokens", "clean_len", "digest")
        .orderBy("doc_id")
    },
    Some("""WITH live AS (
           |  SELECT doc_id, lang,
           |         trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
           |           AS clean
           |  FROM documents WHERE doc_id % 11 <> 0)
           |SELECT doc_id, lang,
           |       CAST(len(regexp_extract_all(clean, '\S+')) AS BIGINT)
           |         AS n_tokens,
           |       CAST(length(clean) AS BIGINT) AS clean_len,
           |       md5(clean) AS digest
           |FROM live
           |WHERE len(regexp_extract_all(clean, '\S+')) >= 40
           |ORDER BY doc_id""".stripMargin)
  )

  /** q248's row-local derive: normalize whitespace, count tokens,
    * screen short docs, slim to the derived columns. */
  private[graft] val deriveClean: DataFrame => DataFrame = df => df
    .withColumn("clean",
      trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    .withColumn("n_tokens",
      size(regexp_extract_all(col("clean"), lit("\\S+"), lit(0)))
        .cast("long"))
    .filter(col("n_tokens") >= 40)
    .select(col("doc_id"), col("lang"), col("n_tokens"),
      length(col("clean")).cast("long").as("clean_len"),
      md5(col("clean")).as("digest"))

  val all: Seq[Query] =
    Seq(q23, q32, q33, q34, q35, q51, q52, q53, q54, q67, q73, q77, q78, q79,
      q80, q81, q85, q86, q93, q95, q106, q125, q126, q132, q133, q138, q150,
      q154, q155, q163, q168, q171, q174, q176, q187, q188, q205, q215, q222,
      q225, q230, q231, q234, TextIndex.q235, q238, q239, q242, q243, q244,
      q248)
}
