package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFns, VectorFns}
import graft.sources.Tables

/** [EXT] L4x text analysis over the `documents` table (SURVEY.md §2.10):
  * token statistics, quality scoring, heuristic language-ID, document
  * fingerprinting. All pure built-in compositions (one whole-stage-codegen
  * span over the scan; per-language profiles add one partial-agg exchange).
  *
  * Determinism: every ratio is a division of exact integer counts (IEEE
  * double division of identical operands is bit-identical across engines);
  * weighted score combinations are written with the same association order
  * in the Spark and DuckDB expressions.
  */
object TextOps extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val toks = TextFns.tokens(col("text"))

  // Stopword lists for the language-ID heuristic (tiny, deliberate).
  private val stop = Map(
    "en" -> Seq("the", "and", "of", "is", "a"),
    "de" -> Seq("der", "und", "die", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "est", "un"),
    "es" -> Seq("el", "los", "y", "es", "un"))

  private def hits(lang: String): Column = {
    val list = stop(lang).map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(split(lower(trim(text)), '\\\\s+'), t -> t IN ($list)))")
  }
  private def hitsSql(lang: String): String = {
    val list = stop(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t IN ($list)))"
  }

  // ------------------------------------------------------------------
  // Token statistics per document.
  // ------------------------------------------------------------------
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_uniq_tokens"),
      length(col("text")).as("n_chars_real"),
      (size(array_distinct(toks)).cast("double") / size(toks)).as("ttr"),
      (length(regexp_replace(col("text"), "\\s", "")).cast("double") / size(toks))
        .as("avg_word_len"))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens,
      |  len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS n_uniq_tokens,
      |  CAST(length(text) AS INTEGER) AS n_chars_real,
      |  CAST(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
      |    / len(string_split_regex(lower(trim(text)), '\s+')) AS ttr,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |    / len(string_split_regex(lower(trim(text)), '\s+')) AS avg_word_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Per-language corpus profile (grouped aggregation over derived stats).
  // ------------------------------------------------------------------
  def langProfile(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("lang"), size(toks).as("n_tokens"), col("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))

  val langProfileSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(len(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE) / COUNT(*) AS avg_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // Quality scoring: length/punctuation/stopword/uppercase signals folded
  // into one score, plus an accept/reject gate — the classic pretraining
  // corpus filter shape.
  // ------------------------------------------------------------------
  def quality(s: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks).cast("double")
    val punct = size(regexp_extract_all(col("text"), lit("[.!?,;]"), lit(0))).cast("double") / length(col("text"))
    val stopRatio = hits("en").cast("double") / size(toks)
    val upperRatio = size(regexp_extract_all(col("text"), lit("[A-Z]"), lit(0))).cast("double") / length(col("text"))
    val score = (stopRatio * 0.4) + ((lit(1.0) - punct) * 0.3) +
      (when(nTok >= 20 && nTok <= 1000, lit(0.3)).otherwise(lit(0.0)))
    docs(s, dir).select(
      col("doc_id"), size(toks).as("n_tokens"),
      punct.as("punct_ratio"), stopRatio.as("stopword_ratio"),
      upperRatio.as("upper_ratio"), score.as("quality_score"),
      (score >= 0.35).as("accepted"))
      .orderBy(col("doc_id"))
  }

  val qualitySql: String = {
    val nTokS = "len(string_split_regex(lower(trim(text)), '\\s+'))"
    val punctS = s"CAST(len(regexp_extract_all(text, '[.!?,;]')) AS DOUBLE) / length(text)"
    val stopS = s"CAST(${hitsSql("en")} AS DOUBLE) / $nTokS"
    val upperS = s"CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / length(text)"
    val scoreS = s"(($stopS) * 0.4) + ((1.0 - ($punctS)) * 0.3) + " +
      s"(CASE WHEN CAST($nTokS AS DOUBLE) >= 20 AND CAST($nTokS AS DOUBLE) <= 1000 THEN 0.3 ELSE 0.0 END)"
    s"""SELECT doc_id, $nTokS AS n_tokens,
      |  $punctS AS punct_ratio, $stopS AS stopword_ratio,
      |  $upperS AS upper_ratio, $scoreS AS quality_score,
      |  ($scoreS) >= 0.35 AS accepted
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Heuristic language-ID: stopword-hit argmax with a deterministic
  // tie-break chain (en > de > fr > es > unknown). The fixture text is
  // synthetic word salad, so most rows land in 'unknown' — the point is the
  // operator, not the classifier.
  // ------------------------------------------------------------------
  def langId(s: SparkSession, dir: String): DataFrame = {
    val en = hits("en"); val de = hits("de"); val fr = hits("fr"); val es = hits("es")
    val pred = when(en + de + fr + es === 0, lit("unknown"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
    docs(s, dir).select(col("doc_id"), col("lang").as("labeled_lang"),
      en.as("en_hits"), de.as("de_hits"), fr.as("fr_hits"), es.as("es_hits"),
      pred.as("predicted_lang"))
      .orderBy(col("doc_id"))
  }

  val langIdSql: String = {
    val (en, de, fr, es) = (hitsSql("en"), hitsSql("de"), hitsSql("fr"), hitsSql("es"))
    s"""SELECT doc_id, lang AS labeled_lang,
      |  $en AS en_hits, $de AS de_hits, $fr AS fr_hits, $es AS es_hits,
      |  CASE WHEN $en + $de + $fr + $es = 0 THEN 'unknown'
      |       WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
      |       WHEN $de >= $fr AND $de >= $es THEN 'de'
      |       WHEN $fr >= $es THEN 'fr'
      |       ELSE 'es' END AS predicted_lang
      |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------------
  // Document fingerprinting: normalized-content md5 (the exact-dedup key)
  // plus the duplicate-group size via a count window over the fingerprint.
  // Scale: one exchange on the fingerprint — this IS exact content dedup at
  // 100 TB (hash-partition by fingerprint, keep min doc_id per group).
  // ------------------------------------------------------------------
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = md5(lower(trim(col("text"))).cast("binary"))
    val w = Window.partitionBy(col("fp"))
    docs(s, dir).select(col("doc_id"), fp.as("fp"))
      .withColumn("dup_count", count(lit(1)).over(w))
      .withColumn("keeper", min(col("doc_id")).over(w) === col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """SELECT doc_id, fp, dup_count, keeper FROM (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp,
      |    count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS dup_count,
      |    min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) = doc_id AS keeper
      |  FROM documents) ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Token counting, BPE-ish: a subword regex (letter runs capped at 4
  // chars, digit runs, single punctuation marks) approximating byte-pair
  // segment counts — the cheap pre-tokenizer-estimate pattern used to
  // budget LLM training data. Compared against whitespace counts.
  // ------------------------------------------------------------------
  def bpeTokens(s: SparkSession, dir: String): DataFrame = {
    val pat = lit("[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9\\s]")
    docs(s, dir).select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      size(regexp_extract_all(col("text"), pat, lit(0))).as("bpe_tokens"),
      (size(regexp_extract_all(col("text"), pat, lit(0))).cast("double") / size(toks))
        .as("subwords_per_word"))
      .orderBy(col("doc_id"))
  }

  val bpeTokensSql: String =
    """SELECT doc_id,
      |  len(string_split_regex(lower(trim(text)), '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]+|[^a-zA-Z0-9\s]')) AS DOUBLE)
      |    / len(string_split_regex(lower(trim(text)), '\s+')) AS subwords_per_word
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Rolling-hash document fingerprint: position-weighted polynomial hash
  // over the token stream (order-sensitive, unlike the content-md5 in
  // docs_fingerprint: token swaps change the value). Token codes come from
  // md5 bytes so the whole construction is engine-portable.
  // ------------------------------------------------------------------
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("toks", toks)
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        expr("""aggregate(
          |  transform(sequence(1, size(toks)), i ->
          |    cast(i as bigint) *
          |      (ascii(substring(md5(cast(element_at(toks, i) as binary)), 1, 1)) * 65536
          |       + ascii(substring(md5(cast(element_at(toks, i) as binary)), 2, 1)) * 256
          |       + ascii(substring(md5(cast(element_at(toks, i) as binary)), 3, 1)))),
          |  0L, (acc, x) -> acc + x) % 2147483647""".stripMargin).as("rolling_fp"))
      .orderBy(col("doc_id"))

  val rollingFingerprintSql: String =
    """SELECT doc_id, len(toks) AS n_tokens,
      |  CAST(list_aggregate(list_transform(range(1, len(toks)+1),
      |    i -> CAST(i AS BIGINT) * (ascii(substr(md5(toks[i]), 1, 1)) * 65536
      |         + ascii(substr(md5(toks[i]), 2, 1)) * 256
      |         + ascii(substr(md5(toks[i]), 3, 1)))), 'sum') % 2147483647 AS BIGINT) AS rolling_fp
      |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // PII scrubbing (training-data redaction): emails and phone-shaped
  // strings are replaced with typed placeholder tokens, with per-doc
  // redaction counts for audit. The fixture text carries no PII, so the
  // query INJECTS a deterministic email + phone derived from doc_id before
  // scrubbing — the oracle reproduces injection and scrub, so a pattern or
  // replacement divergence on either engine fails the hash. Patterns stay
  // in the Java-regex ∩ RE2 common subset (no lookarounds, no backrefs).
  // Scale: pure per-row regex work inside one codegen span — no shuffle.
  // ------------------------------------------------------------------
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\b555-[0-9]{4}\\b"

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("injected",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" today")))
      .select(col("doc_id"),
        regexp_count(col("injected"), lit(emailPat)).as("n_emails"),
        regexp_count(col("injected"), lit(phonePat)).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("injected"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>").cast("binary")).as("scrub_md5"))
      .orderBy(col("doc_id"))

  val piiScrubSql: String =
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(injected, '$emailPat')) AS INT) AS n_emails,
      |  CAST(len(regexp_extract_all(injected, '\\b555-[0-9]{4}\\b')) AS INT) AS n_phones,
      |  md5(regexp_replace(regexp_replace(injected, '$emailPat', '<EMAIL>', 'g'),
      |    '\\b555-[0-9]{4}\\b', '<PHONE>', 'g')) AS scrub_md5
      |FROM (SELECT doc_id,
      |        text || ' contact user' || doc_id || '@example.com or 555-' ||
      |          lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' AS injected
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Intra-document repetition signals (the Gopher/MassiveText repetition
  // filters): duplicate n-gram fractions for n=2,3,4 plus the share of the
  // single most frequent bigram. Highly repetitive pages (boilerplate,
  // keyword stuffing, templated spam) score high and are rejected.
  // Scale: the dup fractions are one narrow codegen span (array ops only,
  // no shuffle); the top-bigram share is explode -> two partial-agg
  // exchanges keyed by (doc_id[, gram]) -> join back on doc_id — every
  // stage keyed, nothing quadratic, the exact shape this takes at 100 TB.
  // ------------------------------------------------------------------
  def repetition(s: SparkSession, dir: String): DataFrame =
    // loadParallel: gram construction + per-doc sort is the heavy narrow
    // stage; the fixture's single row group would otherwise run it serially
    repetitionOf(Tables.loadParallel(s, dir, "documents"))

  /** Core over any (doc_id, text) relation — factored for synthetic specs.
    *
    * Single narrow pass: top2_count (the max multiplicity of any 2-gram)
    * equals the longest equal-neighbour run in the SORTED gram list, so it
    * folds per row with an aggregate HOF — no explode, no per-gram
    * exchange, no rejoin (the previous form paid two shuffles and a join,
    * and recomputed the gram pipeline in both branches). The only exchange
    * left in the query is the final presentation sort, and per-doc work is
    * O(g log g) — embarrassingly parallel at any corpus size. */
  def repetitionOf(d: DataFrame): DataFrame = {
    // Guarded: sequence(1, size-k) flips DESCENDING when size <= k, and
    // element_at(toks, 0) then throws under ANSI — short docs get an empty
    // gram list instead (DuckDB's range(1, n) is already empty for n <= 1).
    def grams(n: Int): Column = {
      val parts = (0 until n)
        .map(j => if (j == 0) "element_at(toks, i)" else s"element_at(toks, i+$j)")
        .mkString(", ")
      expr(s"if(size(toks) < $n, array()," +
        s" transform(sequence(1, size(toks)-${n - 1}), i -> concat_ws(' ', $parts)))")
    }
    def dupRatio(g: Column): Column =
      (size(g) - size(array_distinct(g))).cast("double") / size(g)
    // null prev on the first element: `null = x` is null -> else branch -> 1
    val top2 = expr(
      """aggregate(array_sort(g2),
        |  named_struct('prev', cast(null as string),
        |               'run',  cast(0 as bigint), 'best', cast(0 as bigint)),
        |  (acc, x) -> named_struct(
        |    'prev', x,
        |    'run',  if(acc.prev = x, acc.run + 1, cast(1 as bigint)),
        |    'best', greatest(acc.best,
        |                     if(acc.prev = x, acc.run + 1, cast(1 as bigint)))),
        |  acc -> acc.best)""".stripMargin)
    d.select(col("doc_id"), toks.as("toks"))
      // docs too short for a 2-gram were dropped by the old inner join (and
      // are dropped by the oracle's join). Filter on the TOKEN count, not
      // size(g2) > 0: a size(g2) filter pushed below the projections
      // substitutes the whole gram transform — with `toks` inlined INSIDE
      // the lambda, i.e. one regex split per element_at per element,
      // O(tokens²) splits per doc on the serial pre-repartition scan (this
      // was 5.4 s of the bench's count() shape; the token-count filter
      // substitutes one split per row instead).
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), grams(2).as("g2"), grams(3).as("g3"), grams(4).as("g4"))
      .select(col("doc_id"), size(col("g2")).as("n_2grams"),
        dupRatio(col("g2")).as("dup2_ratio"),
        dupRatio(col("g3")).as("dup3_ratio"),
        dupRatio(col("g4")).as("dup4_ratio"),
        top2.as("top2_count"))
      .withColumn("top2_ratio", col("top2_count").cast("double") / col("n_2grams"))
      .withColumn("accepted",
        col("dup2_ratio") <= 0.2 && col("dup3_ratio") <= 0.18 &&
          col("dup4_ratio") <= 0.16 && col("top2_ratio") <= 0.08)
      .select(col("doc_id"), col("n_2grams"), col("dup2_ratio"), col("dup3_ratio"),
        col("dup4_ratio"), col("top2_count"), col("top2_ratio"), col("accepted"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |           FROM documents),
      |g AS (SELECT doc_id,
      |        list_transform(range(1, len(toks)),   i -> toks[i] || ' ' || toks[i+1]) AS g2,
      |        list_transform(range(1, len(toks)-1), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS g3,
      |        list_transform(range(1, len(toks)-2), i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS g4
      |      FROM t),
      |top AS (SELECT doc_id, max(c) AS top2_count FROM (
      |          SELECT doc_id, gram, count(*) AS c
      |          FROM (SELECT doc_id, unnest(g2) AS gram FROM g)
      |          GROUP BY doc_id, gram) GROUP BY doc_id)
      |SELECT g.doc_id, len(g2) AS n_2grams,
      |  CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup2_ratio,
      |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) AS dup3_ratio,
      |  CAST(len(g4) - len(list_distinct(g4)) AS DOUBLE) / len(g4) AS dup4_ratio,
      |  top2_count,
      |  CAST(top2_count AS DOUBLE) / len(g2) AS top2_ratio,
      |  (CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) <= 0.2
      |   AND CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3) <= 0.18
      |   AND CAST(len(g4) - len(list_distinct(g4)) AS DOUBLE) / len(g4) <= 0.16
      |   AND CAST(top2_count AS DOUBLE) / len(g2) <= 0.08) AS accepted
      |FROM g JOIN top ON g.doc_id = top.doc_id
      |ORDER BY g.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Vocabulary building: global token frequencies, top-100 with a
  // deterministic (freq DESC, token ASC) tiebreak — the vocab/coverage
  // estimation step before tokenizer training. Scale: explode -> partial
  // map-side counts -> one exchange on token -> TakeOrdered(100); the
  // top-K never materializes the full vocabulary on one node.
  // ------------------------------------------------------------------
  def vocabTopK(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(100)

  val vocabTopKSql: String =
    """SELECT token, CAST(count(*) AS BIGINT) AS freq
      |FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin

  // ------------------------------------------------------------------
  // Lexical retrieval: TF-IDF top-K for a fixed query term set — the
  // inverted-index probe expressed relationally (the engine's vector
  // search gets a keyword-search sibling). Shuffle-free: each document's
  // term counts come from its own token array (no explode, no postings
  // exchange), one global aggregate yields the corpus size and the
  // per-term document frequencies (|terms| + 1 numbers, broadcast), and
  // the top-K is a TakeOrdered over the documents holding a term.
  // Scoring is deliberately LOG-FREE — tf/len * N/df as pure integer
  // ratios — because ln() is not guaranteed bit-identical across libm
  // implementations, while single double divisions/multiplications in a
  // fixed left-assoc order are; per-term contributions (0.0 for an absent
  // term) are added in literal term order, mirrored exactly in the oracle.
  // ------------------------------------------------------------------
  private val TFIDF_TERMS = Seq("join", "vector", "stream")
  private val TFIDF_K = 10

  /** The (doc_id, score) relation shared by docs_tfidf_topk and
    * docs_rrf_fusion (doc_id is the documents key): scores exist only for
    * documents holding at least one query term, so downstream consumers
    * take a partial top-K, never a global sort. */
  private def tfidfScored(s: SparkSession, dir: String): DataFrame = {
    def tf(t: String): Column = col(s"tf_$t")
    // occurrences of t: the elements array_remove drops (null text: null)
    val counted = docs(s, dir).select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id") +: size(col("tk")).as("len") +:
        TFIDF_TERMS.map(t => (size(col("tk")) - size(array_remove(col("tk"), t))).as(s"tf_$t")): _*)
    val stats = counted.agg(count(lit(1)).as("n_docs"),
      TFIDF_TERMS.map(t => count(when(tf(t) > 0, 1)).as(s"df_$t")): _*)
    def contrib(t: String): Column =
      when(tf(t) > 0,
        (tf(t).cast("double") / col("len").cast("double")) *
          (col("n_docs").cast("double") / col(s"df_$t").cast("double")))
        .otherwise(lit(0.0))
    // a document holding a term scores > 0, every other one exactly 0.0;
    // filtering on the score keeps the token array's derivations out of
    // the filter, which Catalyst would otherwise inline below the project
    counted.crossJoin(broadcast(stats))
      .select(col("doc_id"), TFIDF_TERMS.map(contrib).reduceLeft(_ + _).as("score"))
      .filter(col("score") > 0.0)
  }

  def tfidfTopK(s: SparkSession, dir: String): DataFrame =
    tfidfScored(s, dir)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(TFIDF_K)

  /** The oracle CTE chain producing the same (doc_id, score) relation
    * (`sc`), shared by the tfidf and rrf oracles. */
  private val tfidfScoredCtes: String = {
    val cases = TFIDF_TERMS.map(t =>
      s"COALESCE(MAX(CASE WHEN token = '$t' THEN c END), 0.0)").mkString(" +\n      |         ")
    s"""WITH tk AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
      |  FROM documents),
      |post AS (SELECT doc_id, len(tk) AS len, unnest(tk) AS token FROM tk),
      |tf AS (
      |  SELECT doc_id, len, token, CAST(COUNT(*) AS BIGINT) AS tf FROM post
      |  WHERE token IN (${TFIDF_TERMS.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY doc_id, len, token),
      |dfs AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
      |c AS (
      |  SELECT doc_id, token,
      |    (CAST(tf AS DOUBLE) / CAST(len AS DOUBLE)) *
      |      (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS c
      |  FROM tf JOIN dfs USING (token) CROSS JOIN n),
      |sc AS (
      |  SELECT doc_id,
      |         $cases AS score
      |  FROM c GROUP BY doc_id)""".stripMargin
  }

  val tfidfTopKSql: String =
    s"""$tfidfScoredCtes
      |SELECT doc_id, score FROM sc
      |ORDER BY score DESC, doc_id LIMIT $TFIDF_K""".stripMargin

  // ------------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical TF-IDF
  // ranking and the dense cosine ranking for one query vector (vec_id 0),
  // aligned on doc_id = vec_id. The production hybrid-search shape: each
  // retriever independently produces a BOUNDED candidate pool (lexical
  // pool via TakeOrdered over the term-matched docs; dense pool via the
  // exact scorer here, an ANN probe at corpus scale — both partial top-K,
  // no global sort or single-partition window anywhere). The whole fusion
  // is ONE lazy plan: each 50-row pool is ranked inside Spark by sorting
  // its collected (score, -id) pairs in the pool's own (score DESC, id)
  // order, so no float ever crosses engines, and the two ranked pools
  // meet in a full outer join on the id. Both sides are single-partition
  // aggregates, so the join plans no exchange. Fusion scores are
  // INTEGER-SCALED: contribution = 1e12 div (60 + rank) in exact integer
  // division on both engines (the standard RRF k=60), so the fused key is
  // a BIGINT and hash parity is structural.
  // ------------------------------------------------------------------
  private val RRF_POOL = 50
  private val RRF_K = 10
  private val RRF_C = 60            // the canonical RRF damping constant
  private val RRF_SCALE = 1000000000000L

  /** A top-[[RRF_POOL]] pool as (`id`, `rank`), rank 1..n in the pool's
    * (`score` DESC, `id`) order. The score is sorted as is, never
    * negated: NaN sorts first descending, but -NaN would sort last. */
  private def ranked(pool: DataFrame, score: String, id: String, rank: String): DataFrame =
    pool.orderBy(col(score).desc, col(id)).limit(RRF_POOL)
      .agg(sort_array(collect_list(struct(col(score), (-col(id)).as("nid"))), asc = false).as("p"))
      .select(posexplode(col("p")))
      .select((-col("col.nid")).as(id), (col("pos") + 1).as(rank))

  def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    val lex = ranked(tfidfScored(s, dir), "score", "doc_id", "lex_rank")
    val e = Tables.load(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val vec = ranked(e.filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("did"), col("embedding").as("de"))
      .crossJoin(broadcast(q))
      .select(col("did"), VectorFns.cosine(col("qe"), col("de")).as("cos")),
      "cos", "did", "vec_rank")
    def contrib(rank: String): Column = coalesce(expr(s"$RRF_SCALE div ($RRF_C + $rank)"), lit(0L))
    lex.join(vec, col("doc_id") === col("did"), "full_outer")
      .select(coalesce(col("doc_id"), col("did")).as("doc_id"),
        (contrib("lex_rank") + contrib("vec_rank")).as("fused"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(RRF_K)
  }

  val rrfFusionSql: String =
    s"""$tfidfScoredCtes,
      |lex AS (
      |  SELECT doc_id, lr FROM (
      |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS lr
      |    FROM sc) WHERE lr <= $RRF_POOL),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
      |vs AS (
      |  SELECT vec_id AS did,
      |    list_dot_product(qe, de) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(de, de))) AS cos
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de
      |        FROM embeddings WHERE vec_id <> 0) CROSS JOIN q),
      |vec AS (
      |  SELECT did, vr FROM (
      |    SELECT did, row_number() OVER (ORDER BY cos DESC, did) AS vr
      |    FROM vs) WHERE vr <= $RRF_POOL)
      |SELECT COALESCE(doc_id, did) AS doc_id,
      |  COALESCE($RRF_SCALE // ($RRF_C + lr), 0) +
      |    COALESCE($RRF_SCALE // ($RRF_C + vr), 0) AS fused,
      |  CAST(lr AS INTEGER) AS lex_rank, CAST(vr AS INTEGER) AS vec_rank
      |FROM lex FULL JOIN vec ON doc_id = did
      |ORDER BY fused DESC, doc_id LIMIT $RRF_K""".stripMargin

  // ------------------------------------------------------------------
  // Frequent items via count-min sketch (the approx_top_k shape): the
  // token stream folds into ONE fixed-size mergeable sketch (map-side
  // partials, the shuffle carries sketches, never tokens), and the
  // exact top-20 tokens are then probed against it. Output carries the
  // exact count, the sketch estimate, and the eps*N error-bound verdict.
  // At fixture scale the 3x65536 sketch is collision-free on the probed
  // keys (verified at sf0.01 AND sf0.1, fixed seed -> deterministic), so
  // the oracle pins cms_freq == freq exactly and within_bound == TRUE;
  // at 100 TB the same query answers heavy hitters when the exact
  // groupBy's key cardinality (not row count) is the bottleneck — the
  // sketch stays 1.5 MB no matter how many distinct tokens exist.
  // The estimate probe is a UDF over the serialized sketch — justified:
  // K bounded rows (20), and sketch probing is not expressible as a
  // built-in; the heavy path (the fold) is the typed Aggregator.
  // ------------------------------------------------------------------
  private val CMS_TOPK = 20
  private val CMS_DEPTH = 3
  private val CMS_WIDTH = 65536

  def freqSketch(s: SparkSession, dir: String): DataFrame = {
    val cmsAgg = udaf(new graft.functions.CmsAggregator(CMS_DEPTH, CMS_WIDTH, 42))
    val estimate = udf { (bytes: Array[Byte], key: String) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .estimateCount(key)
    }
    val tokens = docs(s, dir).select(explode(toks).as("token"))
    val sketch = tokens.agg(cmsAgg(col("token")).as("sk"))
    val total = tokens.agg(count(lit(1)).as("n_tokens"))
    val top = tokens.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(CMS_TOPK)
    top.crossJoin(broadcast(sketch)).crossJoin(broadcast(total))
      .withColumn("cms_freq", estimate(col("sk"), col("token")))
      .select(col("token"), col("freq"), col("cms_freq"),
        (col("cms_freq") >= col("freq") &&
          (col("cms_freq") - col("freq")).cast("double") <=
            lit(2.0 / CMS_WIDTH) * col("n_tokens")).as("within_bound"))
      .orderBy(col("freq").desc, col("token"))
  }

  val freqSketchSql: String =
    s"""SELECT token, freq, freq AS cms_freq, TRUE AS within_bound FROM (
      |  SELECT token, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      |        FROM documents)
      |  GROUP BY token ORDER BY freq DESC, token LIMIT $CMS_TOPK)
      |ORDER BY freq DESC, token""".stripMargin

  // ------------------------------------------------------------------
  // Vocabulary coverage / OOV rate: per-document fraction of tokens not in
  // the top-256 global vocabulary — the coverage check run before fixing a
  // tokenizer vocab. The vocab is BOUNDED (top-K with deterministic
  // freq-desc/token-asc tiebreak), so the membership join broadcasts at
  // any corpus size; token rows never shuffle except the per-doc count
  // (keyed on doc_id). Double division only at the output.
  // ------------------------------------------------------------------
  private val OOV_VOCAB = 256

  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), col("lang"), explode(toks).as("token"))
    val vocab = tok.groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(OOV_VOCAB)
      .select(col("token"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  val oovRateSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang,
      |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      |  FROM documents),
      |vocab AS (
      |  SELECT token FROM (
      |    SELECT token, count(*) AS freq FROM tok GROUP BY token
      |    ORDER BY freq DESC, token LIMIT $OOV_VOCAB))
      |SELECT t.doc_id, t.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate
      |FROM tok t LEFT JOIN vocab v ON t.token = v.token
      |GROUP BY t.doc_id, t.lang ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Collocation mining (document-level lift): which vocabulary-token
  // PAIRS co-occur in more documents than their individual frequencies
  // predict — lift = P(a,b)/(P(a)P(b)) = n_ab*N/(n_a*n_b), the log-free
  // core of PMI (log is monotone, so the top-K by lift IS the top-K by
  // PMI, and skipping it keeps cross-engine bit parity — the same trick
  // as docs_tfidf_topk). Scale: the pair space is bounded by a TOP-V
  // BROADCAST vocabulary (TakeOrdered, V=100), so the per-doc pair
  // fan-out is <= V²/2 regardless of corpus size and the doc-keyed
  // self-join is linear in documents; counts are exact integers and the
  // lift division is the only double op. No corpus-wide token self-join
  // ever happens — that is the difference between this and the naive
  // collocation query that explodes on stopword pairs.
  // ------------------------------------------------------------------
  private val COLL_V = 100
  private val COLL_K = 50

  def collocations(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.loadParallel(s, dir, "documents")
    val tok = d.select(col("doc_id"), explode(array_distinct(toks)).as("t"))
    val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("t")).limit(COLL_V)
    val vt = tok.join(broadcast(vocab), Seq("t"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val pairs = vt.select(col("doc_id"), col("t").as("tok_a"), col("df").as("n_a"))
      .join(vt.select(col("doc_id").as("d2"), col("t").as("tok_b"), col("df").as("n_b")),
        col("doc_id") === col("d2") && col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs.join(broadcast(nDocs), lit(true))
      .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab") * col("n_docs")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("tok_a"), col("tok_b"))
      .limit(COLL_K)
  }

  val collocationsSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS t
      |  FROM documents),
      |vocab AS (
      |  SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY t
      |  ORDER BY df DESC, t LIMIT $COLL_V),
      |vt AS (SELECT doc_id, tok.t AS t, df FROM tok JOIN vocab USING (t)),
      |pairs AS (
      |  SELECT a.t AS tok_a, b.t AS tok_b, a.df AS n_a, b.df AS n_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_ab
      |  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.t < b.t
      |  GROUP BY a.t, b.t, a.df, b.df)
      |SELECT tok_a, tok_b, n_ab, n_a, n_b,
      |  CAST(n_ab * (SELECT COUNT(*) FROM documents) AS DOUBLE)
      |    / CAST(n_a * n_b AS DOUBLE) AS lift
      |FROM pairs
      |ORDER BY lift DESC, tok_a, tok_b LIMIT $COLL_K""".stripMargin

  // ------------------------------------------------------------------
  // Token Gini impurity: 1 - sum_i (c_i/n)^2 — the frequency-weighted
  // diversity signal (TTR counts distinct types; Gini also says whether
  // the mass CONCENTRATES on few of them). It is Shannon entropy's
  // log-free stand-in: both rank repetitive docs low, but Gini is a sum
  // of exact integer products with ONE double division at the output —
  // bit-portable where -sum(p log p) is transcendental-function
  // territory (engine log implementations differ in ulps). Two keyed
  // aggs: (doc, token) counts, then per-doc moments; both partial-agg
  // before their exchange.
  // ------------------------------------------------------------------
  def tokenGini(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "documents")
      .select(col("doc_id"), explode(toks).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sumsq"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (lit(1.0) - col("sumsq").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("gini"))
      .orderBy(col("doc_id"))

  val tokenGiniSql: String =
    """WITH tc AS (
      |  SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS t
      |        FROM documents)
      |  GROUP BY doc_id, t)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  1.0 - CAST(SUM(c*c) AS DOUBLE) / CAST(SUM(c)*SUM(c) AS DOUBLE) AS gini
      |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Map[String, Query] = Map(
    "docs_token_gini" -> Query(tokenGini _, tokenGiniSql),
    "docs_collocations" -> Query(collocations _, collocationsSql),
    "docs_repetition" -> Query(repetition _, repetitionSql),
    "docs_vocab_topk" -> Query(vocabTopK _, vocabTopKSql),
    "docs_freq_sketch" -> Query(freqSketch _, freqSketchSql),
    "docs_tfidf_topk" -> Query(tfidfTopK _, tfidfTopKSql),
    "docs_rrf_fusion" -> Query(rrfFusion _, rrfFusionSql),
    "docs_oov_rate" -> Query(oovRate _, oovRateSql),
    "docs_pii_scrub" -> Query(piiScrub _, piiScrubSql),
    "docs_rolling_fp" -> Query(rollingFingerprint _, rollingFingerprintSql),
    "docs_bpe_tokens" -> Query(bpeTokens _, bpeTokensSql),
    "docs_token_stats" -> Query(tokenStats _, tokenStatsSql),
    "docs_lang_profile" -> Query(langProfile _, langProfileSql),
    "docs_quality" -> Query(quality _, qualitySql),
    "docs_langid" -> Query(langId _, langIdSql),
    "docs_fingerprint" -> Query(fingerprint _, fingerprintSql))
}
