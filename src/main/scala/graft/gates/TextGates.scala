package graft.gates

import graft.OracleXX
import graft.functions.{TextFunctions => TF}
import graft.operators.{Similarity, TextAnalysis}

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import GateSupport._
import OracleCtes._

/** Text gates: normalization, language id, quality filters, tokenizers,
  * sketches, language-model scoring and training-data transforms. */
object TextGates {
  private val family = "text"
  private val textTopKQuery =
    "table scan fast key value row batch window join query"

  val gates: Seq[GateQuery] = Seq(
    GateQuery("text_vocab_coverage", family,
      build = (s, dir) =>
        TextAnalysis.vocabCoverage(t(s, dir, "documents"), "text", Seq(100, 1000))
          .orderBy("top_n"),
      // coverage cut is a total order (count desc, token asc) so the LIMIT
      // boundary is deterministic on both engines
      oracleSql = s"""
      WITH w AS (SELECT unnest($sqlToks) AS tok FROM documents),
      counts AS (SELECT tok, count(*)::BIGINT AS c FROM w
                 WHERE tok <> '' GROUP BY tok),
      total AS (SELECT sum(c)::BIGINT AS total_occ FROM counts),
      cov AS (
        SELECT 100 AS top_n, sum(c)::BIGINT AS covered_occ
        FROM (SELECT c FROM counts ORDER BY c DESC, tok ASC LIMIT 100)
        UNION ALL
        SELECT 1000, sum(c)::BIGINT
        FROM (SELECT c FROM counts ORDER BY c DESC, tok ASC LIMIT 1000))
      SELECT top_n, covered_occ, total_occ,
             covered_occ::DOUBLE / total_occ::DOUBLE AS covered_frac
      FROM cov CROSS JOIN total ORDER BY top_n"""),
    /** Classifier-evaluation confusion matrix: ground-truth `lang` column
      * vs the engine's `langId` prediction, with per-truth-row recall. */
    GateQuery("text_langid_confusion", family,
      build = (s, dir) =>
        t(s, dir, "documents")
          .groupBy(col("lang"), TF.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("n"))
          .withColumn("recall", col("n").cast("double") /
            sum("n").over(Window.partitionBy("lang")).cast("double"))
          .orderBy("lang", "lang_pred"),
      oracleSql = s"""
      WITH s AS (
        SELECT lang,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents),
      p AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_pred
        FROM s),
      c AS (SELECT lang, lang_pred, count(*)::BIGINT AS n FROM p GROUP BY 1, 2)
      SELECT lang, lang_pred, n,
             n::DOUBLE / (sum(n) OVER (PARTITION BY lang))::DOUBLE AS recall
      FROM c ORDER BY lang, lang_pred"""),
    GateQuery("text_topk", family,
      build = (s, dir) =>
        Similarity.textTopK(t(s, dir, "documents"), "doc_id", "text",
            textTopKQuery, k = 10, shingleN = 2)
          .orderBy(col("jaccard").desc, col("id").asc),
      oracleSql = {
        // the query string's 2-gram shingles, built with the SAME
        // normalization the engine applies, as a DuckDB list literal
        val qtoks = textTopKQuery.toLowerCase.replaceAll("[^a-z0-9\\s]", " ")
          .replaceAll("\\s+", " ").trim.split(" ").toSeq
        val qsh = (if (qtoks.size < 2) Seq(qtoks.mkString(" "))
                   else qtoks.sliding(2).map(_.mkString(" ")).toSeq).distinct
        val qlist = qsh.map(s => s"'$s'").mkString("[", ", ", "]")
        s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 2 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk)),
                         i -> array_to_string(list_slice(tk, i, i + 1), ' '))) END AS hs
        FROM toks),
      scored AS (
        SELECT doc_id AS id,
               len(list_intersect(hs, $qlist)) AS inter,
               len(hs) AS n, len($qlist) AS nq
        FROM sh)
      SELECT id, inter::DOUBLE / (n + nq - inter) AS jaccard
      FROM scored WHERE inter > 0
      ORDER BY jaccard DESC, id ASC LIMIT 10"""
      }),
    GateQuery("text_stats", family,
      build = (s, dir) =>
        t(s, dir, "documents").select(
            col("doc_id"),
            size(TF.tokens(col("text"))).cast("long").as("n_words"),
            TF.bpeishTokenCount(col("text")).cast("long").as("n_tokens_bpe"),
            length(col("text")).cast("long").as("n_chars"))
          .orderBy("doc_id"),
      oracleSql = s"""
      SELECT doc_id, len($sqlToks)::BIGINT AS n_words,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens_bpe,
             length(text)::BIGINT AS n_chars
      FROM documents ORDER BY doc_id"""),
    GateQuery("text_langid", family,
      build = (s, dir) => {
        val c = col("text")
        t(s, dir, "documents").select(
            col("doc_id"),
            TF.langScore(c, "de").cast("long").as("s_de"),
            TF.langScore(c, "en").cast("long").as("s_en"),
            TF.langScore(c, "es").cast("long").as("s_es"),
            TF.langScore(c, "fr").cast("long").as("s_fr"),
            TF.langScore(c, "zh").cast("long").as("s_zh"),
            TF.langId(c).as("lang_pred"))
          .orderBy("doc_id")
      },
      oracleSql = s"""
      WITH s AS (
        SELECT doc_id,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
        FROM documents)
      SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                  WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                  WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                  WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                  WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                  ELSE 'de' END AS lang_pred
      FROM s ORDER BY doc_id"""),
    /** Span-level language ID: every 25-token window scored and argmaxed —
      * see [[TextAnalysis.windowLangid]]. */
    GateQuery("text_window_langid", family,
      build = (s, dir) =>
        TextAnalysis.windowLangid(t(s, dir, "documents"), "doc_id", "text",
            windowTokens = 50, hopTokens = 25)
          .orderBy("doc_id", "win_start"),
      oracleSql = s"""
      WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      st AS (SELECT doc_id, tk,
               unnest(range(0, (len(tk) - 1) // 25 + 1)) * 25 AS win_start
             FROM t),
      sc AS (SELECT doc_id, win_start::BIGINT AS win_start,
               ${langScoreSql("de", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_de,
               ${langScoreSql("en", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_en,
               ${langScoreSql("es", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_es,
               ${langScoreSql("fr", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_fr,
               ${langScoreSql("zh", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_zh
             FROM st)
      SELECT doc_id, win_start, s_de, s_en, s_es, s_fr, s_zh,
             CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_win
      FROM sc ORDER BY doc_id, win_start"""),
    /** Per-document code-switching fractions over the window IDs — see
      * [[TextAnalysis.codeSwitchReport]]. */
    GateQuery("text_code_switch", family,
      build = (s, dir) =>
        TextAnalysis.codeSwitchReport(t(s, dir, "documents"), "doc_id", "text",
            windowTokens = 50, hopTokens = 25)
          .orderBy("doc_id"),
      oracleSql = s"""
      WITH t AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ds0 AS (SELECT doc_id,
               ${langScoreSql("de")} AS s_de, ${langScoreSql("en")} AS s_en,
               ${langScoreSql("es")} AS s_es, ${langScoreSql("fr")} AS s_fr,
               ${langScoreSql("zh")} AS s_zh
             FROM documents),
      dl AS (SELECT doc_id, CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS doc_lang_pred FROM ds0),
      st AS (SELECT doc_id, tk,
               unnest(range(0, (len(tk) - 1) // 25 + 1)) * 25 AS win_start
             FROM t),
      sc AS (SELECT doc_id,
               ${langScoreSql("de", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_de,
               ${langScoreSql("en", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_en,
               ${langScoreSql("es", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_es,
               ${langScoreSql("fr", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_fr,
               ${langScoreSql("zh", "list_slice(tk, win_start + 1, win_start + 50)")} AS s_zh
             FROM st),
      wl AS (SELECT doc_id, CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS lang_win FROM sc)
      SELECT w.doc_id, d.doc_lang_pred, count(*)::BIGINT AS n_windows,
             sum(CASE WHEN w.lang_win <> d.doc_lang_pred
                       AND w.lang_win <> 'und' THEN 1 ELSE 0 END)::BIGINT
               AS n_minority,
             (sum(CASE WHEN w.lang_win <> d.doc_lang_pred
                        AND w.lang_win <> 'und' THEN 1 ELSE 0 END)
              * 1000000 // count(*))::BIGINT AS minority_ppm
      FROM wl w JOIN dl d USING (doc_id)
      GROUP BY w.doc_id, d.doc_lang_pred ORDER BY w.doc_id"""),
    GateQuery("text_quality", family,
      build = (s, dir) => {
        val comps = TF.qualityComponents(col("text"))
        t(s, dir, "documents").select(
            (col("doc_id") +: comps.map { case (n, c) => c.as(n) } :+
              TF.qualityScore(col("text")).as("quality")): _*)
          .orderBy("doc_id")
      },
      oracleSql = s"""
      WITH c AS (
        SELECT doc_id, length(text)::BIGINT AS n_chars_m,
               len($sqlToks)::BIGINT AS n_tokens,
               CASE WHEN len($sqlToks) > 0 THEN
                 floor(list_aggregate(list_transform($sqlToks, x -> len(x)), 'sum') * 1000.0 / len($sqlToks))::BIGINT
               ELSE 0 END AS mean_word_len_pm,
               CASE WHEN length(text) > 0 THEN
                 floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
               ELSE 0 END AS punct_pm,
               ${langScoreSql("en")} AS stop_hits
        FROM documents)
      SELECT doc_id, n_chars_m, n_tokens, mean_word_len_pm, punct_pm, stop_hits,
             (least(n_tokens, 200) * 2 +
              CASE WHEN punct_pm <= 80 THEN 300 ELSE 100 END +
              least(stop_hits * 30, 300))::BIGINT AS quality
      FROM c ORDER BY doc_id"""),
    GateQuery("text_fingerprint", family,
      build = (s, dir) =>
        t(s, dir, "documents").select(
            col("doc_id"), TF.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      oracleSql = """
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
      FROM documents ORDER BY doc_id"""),
    /** UAX #15 canonicalization ([[graft.functions.UnicodeFunctions]]) —
      * the corpus is doctored with decomposed combining marks ('e' →
      * 'e' + U+0301) so NFC has real composition work on every row, and the
      * codepoint-length drop (one per composed pair) plus the normalized
      * text itself are hash-compared against DuckDB's `nfc_normalize` — two
      * independent implementations of the frozen Unicode algorithm agreeing
      * byte-for-byte. NFKC additionally folds compatibility forms; doctored
      * here with U+FB01 ('ﬁ' ligature ← 'fi') so it differs from NFC on
      * every row containing one. */
    GateQuery("text_normalize_unicode", family,
      build = (s, dir) => {
        import graft.functions.UnicodeFunctions
        val decomposed = regexp_replace(col("text"), "e", "e\u0301")
        val compat = regexp_replace(decomposed, "fi", "\ufb01")
        t(s, dir, "documents").select(
            col("doc_id"),
            UnicodeFunctions.nfc(decomposed).as("nfc_text"),
            length(decomposed).as("raw_len"),
            length(UnicodeFunctions.nfc(decomposed)).as("nfc_len"),
            UnicodeFunctions.nfkc(compat).as("nfkc_text"))
          .orderBy("doc_id")
      },
      // two independent UAX #15 implementations (java.text.Normalizer vs
      // DuckDB's utf8proc) hash-compared on doctored combining marks; the
      // engine's NFKC is checked against the identity NFKC(ligatured) ==
      // NFC(unligatured) — the only compatibility chars present are the
      // spliced U+FB01s, whose fold the replace() un-does exactly
      oracleSql = """
      WITH d AS (SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS raw
                 FROM documents)
      SELECT doc_id, nfc_normalize(raw) AS nfc_text,
             length(raw)::INT AS raw_len,
             length(nfc_normalize(raw))::INT AS nfc_len,
             nfc_normalize(raw) AS nfkc_text
      FROM d ORDER BY doc_id"""),
    /** Markup-to-text extraction ([[graft.functions.MarkupFunctions
      * .htmlText]]): each doc's text wrapped in a deterministic HTML shell
      * (head/title/style, attributes with quoted '>'-free values, a script
      * whose body contains both a '<' comparison and an entity string, an
      * `&amp;` entity spliced into the prose) and recovered back out —
      * script/style content dropped, tags become word-separating spaces,
      * entities decoded single-pass (amp last), whitespace collapsed. The
      * oracle replays the identical regex/replacement chain in DuckDB. */
    GateQuery("text_html_extract", family,
      build = (s, dir) => {
        val html = concat(
          lit("<html><head><title>doc </title><style>p{color:red}</style>" +
              "</head><body onload=\"x()\"><h1>"),
          col("lang"),
          lit("</h1>\n<p>"),
          replace(col("text"), lit(" and "), lit(" &amp; ")),
          lit("</p><script type=\"text/javascript\">if (1 < 2) { " +
              "emit(\"&amp;\"); }</script></body></html>"))
        t(s, dir, "documents").select(
            col("doc_id"),
            graft.functions.MarkupFunctions.htmlText(html).as("clean_text"))
          .withColumn("clean_len", length(col("clean_text")))
          .orderBy("doc_id")
      },
      oracleSql = """
      WITH h AS (SELECT doc_id,
        '<html><head><title>doc </title><style>p{color:red}</style></head><body onload="x()"><h1>' ||
        lang || '</h1>' || chr(10) || '<p>' ||
        replace(text, ' and ', ' &amp; ') ||
        '</p><script type="text/javascript">if (1 < 2) { emit("&amp;"); }</script></body></html>' AS html
        FROM documents),
      s1 AS (SELECT doc_id, regexp_replace(html,
               '(?is)<(script|style)[^>]*>.*?</(script|style)[ \t\n\f\r]*>', ' ', 'g') AS x FROM h),
      s2 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]*>', ' ', 'g') AS x FROM s1),
      s3 AS (SELECT doc_id,
               replace(replace(replace(replace(replace(replace(x,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
                 '&nbsp;', ' '), '&amp;', '&') AS x FROM s2),
      res AS (SELECT doc_id,
                trim(regexp_replace(x, '[ \t\n\r]+', ' ', 'g')) AS clean_text
              FROM s3)
      SELECT doc_id, clean_text, length(clean_text)::INT AS clean_len
      FROM res ORDER BY doc_id"""),
    /** Sentence segmentation manifest ([[TextAnalysis.sentenceManifest]]):
      * regex-boundary sentences with per-sentence char/word counts —
      * boundary rule chosen for cross-engine replayability (RE2 has no
      * lookbehind, ICU BreakIterator has no oracle at all; the sentinel
      * trick + documented non-goals are the contract). */
    GateQuery("text_sentences", family,
      build = (s, dir) => {
        // the synthetic corpus has no punctuation — doctor terminators in
        // (period, doubled bang, question mark after three frequent words) so
        // every doc is genuinely multi-sentence and the [.!?]+ run rule fires
        val doctored = t(s, dir, "documents").select(col("doc_id"),
          replace(replace(replace(col("text"),
            lit(" agg "), lit(" agg. ")),
            lit(" table "), lit(" table!! ")),
            lit(" query "), lit(" query? ")).as("text"))
        TextAnalysis.sentenceManifest(doctored, "doc_id", "text")
          .orderBy("doc_id", "sent_idx")
      },
      oracleSql = """
      WITH d AS (SELECT doc_id,
             replace(replace(replace(text,
               ' agg ', ' agg. '), ' table ', ' table!! '),
               ' query ', ' query? ') AS text
           FROM documents),
      s AS (SELECT doc_id,
             regexp_replace(text, '([.!?]+) +', '\1' || chr(1), 'g') AS m
           FROM d),
      l AS (SELECT doc_id,
              list_filter(list_transform(string_split(m, chr(1)),
                x -> trim(x)), x -> x <> '') AS ss
            FROM s),
      ix AS (SELECT doc_id, ss, unnest(range(0, len(ss))) AS i FROM l)
      SELECT doc_id, i AS sent_idx, ss[i+1] AS sentence,
             length(ss[i+1])::INT AS n_chars,
             len(string_split_regex(ss[i+1], ' +'))::INT AS n_words
      FROM ix ORDER BY doc_id, sent_idx"""),
    GateQuery("text_rollhash", family,
      build = (s, dir) =>
        t(s, dir, "documents").select(
            col("doc_id"), TF.rollingHash(col("text")).as("rollhash"))
          .orderBy("doc_id"),
      oracleSql = s"""
      SELECT doc_id, $rollhashExprSql AS rollhash
      FROM documents ORDER BY doc_id"""),
    GateQuery("text_token_report", family,
      build = (s, dir) =>
        TextAnalysis.tokenReport(t(s, dir, "documents"), "text", "lang")
          .orderBy("lang"),
      oracleSql = s"""
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(len($sqlToks))::BIGINT AS total_words,
             sum(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_tokens_bpe,
             sum(length(text))::BIGINT AS total_chars
      FROM documents GROUP BY lang ORDER BY lang"""),
    /** Exact distinct counts are oracle-checked; the HLL++ sketch (not
      * cross-engine reproducible) is validated in-engine as an error-bound
      * boolean — deterministic for a fixed input, so it hashes stably. */
    GateQuery("text_vocabulary", family,
      build = (s, dir) =>
        TextAnalysis.vocabularyReport(t(s, dir, "documents"), "text", 0.05, "lang")
          .select(col("lang"), col("n_distinct_tokens"), col("n_token_occurrences"),
            (abs(col("n_distinct_approx") - col("n_distinct_tokens")).cast("double") /
              col("n_distinct_tokens") <= 0.15).as("sketch_ok"))
          .orderBy("lang"),
      oracleSql = s"""
      WITH w AS (SELECT lang, unnest($sqlToks) AS tok FROM documents)
      SELECT lang, count(DISTINCT tok)::BIGINT AS n_distinct_tokens,
             count(*)::BIGINT AS n_token_occurrences,
             true AS sketch_ok
      FROM w WHERE tok <> '' GROUP BY lang ORDER BY lang"""),
    GateQuery("text_length_dist", family,
      build = (s, dir) =>
        TextAnalysis.lengthDistribution(t(s, dir, "documents"), "text", "lang")
          .orderBy("lang"),
      // Spark's exact `percentile` and DuckDB's quantile_cont use the same
      // linear interpolation — verified bit-equal on this corpus
      oracleSql = s"""
      WITH t AS (SELECT lang, length(text) AS nc, len($sqlToks) AS nw FROM documents)
      SELECT lang, count(*)::BIGINT AS n_docs,
             min(nc)::BIGINT AS chars_min,
             quantile_cont(nc, 0.25) AS chars_p25,
             quantile_cont(nc, 0.5) AS chars_p50,
             quantile_cont(nc, 0.75) AS chars_p75,
             quantile_cont(nc, 0.95) AS chars_p95,
             max(nc)::BIGINT AS chars_max,
             quantile_cont(nw, 0.5) AS words_p50,
             quantile_cont(nw, 0.95) AS words_p95
      FROM t GROUP BY lang ORDER BY lang"""),
    GateQuery("text_length_approx", family,
      build = (s, dir) =>
        TextAnalysis.lengthDistributionApprox(t(s, dir, "documents"), "text",
            accuracy = 100, "lang")
          .orderBy("lang"),
      // exact columns oracle-checked; the sketch is validated in-engine as a
      // rank-error-bound boolean (sketch internals aren't cross-engine
      // reproducible) — the text_vocabulary HLL pattern
      oracleSql = """
      SELECT lang, count(*)::BIGINT AS n_docs,
             quantile_cont(length(text), 0.5) AS chars_p50_exact,
             true AS approx_ok
      FROM documents GROUP BY lang ORDER BY lang"""),
    /** In-engine filter training: 4 batch-perceptron epochs separating
      * lang='en' from the rest on integer quality features — order-free
      * integer updates, weights bit-replayable in DuckDB. */
    GateQuery("text_perceptron", family,
      build = (s, dir) => {
        val comps = TF.qualityComponents(col("text")).toMap
        TextAnalysis.perceptronEpochs(
            t(s, dir, "documents"),
            when(col("lang") === "en", 1L).otherwise(-1L),
            Seq(comps("n_tokens"), comps("punct_pm"), comps("stop_hits")),
            epochs = 4)
          .orderBy("epoch")
      },
      // 4 unrolled batch-perceptron epochs over the quality-component
      // replica: error set under the ENTERING weights (margin 0 counts),
      // weight update = coalesce'd integer sums — exactly the engine loop
      oracleSql = {
        val nf = 4
        val eps = (1 to 4).map { ep =>
          val marg = (0 until nf).map(i => s"ww${ep - 1}.a$i * x$i")
            .mkString(" + ")
          val dsums = (0 until nf)
            .map(i => s"coalesce(sum(y * x$i), 0)::BIGINT AS d$i").mkString(", ")
          val wupd = (0 until nf)
            .map(i => s"(ww${ep - 1}.a$i + ee$ep.d$i)::BIGINT AS a$i")
            .mkString(", ")
          s"""
      ee$ep AS (SELECT count(*)::BIGINT AS n, $dsums
                FROM d CROSS JOIN ww${ep - 1} WHERE y * ($marg) <= 0),
      ww$ep AS (SELECT $wupd FROM ww${ep - 1} CROSS JOIN ee$ep)"""
        }.mkString(",")
        val outs = (1 to 4).map(ep =>
          s"SELECT $ep::BIGINT AS epoch, ee$ep.n AS n_err, " +
          (0 until nf).map(i => s"ww$ep.a$i AS w$i").mkString(", ") +
          s" FROM ee$ep CROSS JOIN ww$ep").mkString(" UNION ALL ")
        s"""
      WITH $qualityKeptCtes,
      d AS (SELECT (CASE WHEN lang = 'en' THEN 1 ELSE -1 END)::BIGINT AS y,
                   1::BIGINT AS x0, n_tokens AS x1, punct_pm AS x2,
                   stop_hits AS x3
            FROM c),
      ww0 AS (SELECT 0::BIGINT AS a0, 0::BIGINT AS a1, 0::BIGINT AS a2,
                     0::BIGINT AS a3),
      $eps
      $outs ORDER BY epoch"""
      }),
    /** Deterministic 15% MLM masking plan with the 80/10/10
      * mask/random/keep action split — hash-derived, so the plan is a pure
      * function of (corpus, seed) and replays bit-exactly in the oracle. */
    GateQuery("text_mlm_masks", family,
      build = (s, dir) =>
        TextAnalysis.mlmMaskPlan(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id", "pos"),
      // vocab = top-1000 tokens by (count desc, token asc) — a deterministic
      // total order both engines can reproduce; OOV encodes as 1000 (<unk>)
      // seeded-hash mask selection and 80/10/10 action split replayed with
      // the XXH64 HUGEINT replica; chained seeds are Spark's multi-column
      // xxhash64 (seed literal hashed first, position key second)
      oracleSql = {
        val key = "(doc_id * 100000 + pos)"
        s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, pos::BIGINT AS pos, tok FROM flat
             WHERE tok <> ''),
      h AS (SELECT doc_id, pos, tok,
              ${OracleXX.mix64Pmod(key, 1000000L, seed = 13L)} AS sel,
              ${OracleXX.mix64Pmod(key, 10L, seed = 17L)} AS act,
              ${OracleXX.mix64Pmod(key, 1000L, seed = 22L)} AS rnd
            FROM f2)
      SELECT doc_id, pos, tok AS token,
             CASE WHEN act < 8 THEN 'mask' WHEN act = 8 THEN 'random'
                  ELSE 'keep' END AS action,
             (CASE WHEN act = 8 THEN rnd END)::BIGINT AS rand_bucket
      FROM h WHERE sel < 150000 ORDER BY doc_id, pos"""
      }),
    /** Deterministic T5-style span-corruption plan: hash-selected span
      * starts with hash-drawn lengths, merged into maximal sentinel-numbered
      * spans — bit-replayable denoising schedule. */
    GateQuery("text_span_corruption", family,
      build = (s, dir) =>
        TextAnalysis.spanCorruptionPlan(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id", "span_start"),
      // hash-selected starts + hash-drawn lengths clipped at doc end,
      // running-max interval union per document, sentinel ordinals
      oracleSql = s"""
      WITH $spanCorruptionCtes
      SELECT doc_id,
             (row_number() OVER (PARTITION BY doc_id ORDER BY span_start)
              - 1)::BIGINT AS sentinel,
             span_start, span_end,
             (span_end - span_start)::BIGINT AS span_len, n_starts
      FROM sp ORDER BY doc_id, span_start"""),
    /** Hashing-trick bag-of-words features: 64 signed buckets per document,
      * vocabulary-free and bit-replayable. */
    GateQuery("text_feature_hashing", family,
      build = (s, dir) =>
        TextAnalysis.featureHashing(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id", "bucket"),
      // per-token bucket and ±1 sign hashes replayed with the XXH64 string
      // replica — over DISTINCT tokens only (the vocabulary is ~100x smaller
      // than the instance stream; hashing per instance made this oracle a
      // 47 s round-9 gate-budget offender), joined back for the rollup
      oracleSql = {
        import org.apache.spark.sql.catalyst.expressions.XXH64
        val s19 = java.lang.Long.toUnsignedString(XXH64.hashLong(19L, 42L))
        s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      f AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
      f2 AS (SELECT doc_id, tok FROM f WHERE tok <> ''),
      th AS MATERIALIZED (
        SELECT tok,
               ${OracleXX.xxh64StrPmod("tok", 64L)} AS bucket,
               (1 - 2 * ${OracleXX.xxh64StrPmod("tok", 2L, seed = s19)}) AS sgn
        FROM (SELECT DISTINCT tok FROM f2)),
      h AS (SELECT doc_id, bucket, sgn FROM f2 JOIN th USING (tok))
      SELECT doc_id, bucket, count(*)::BIGINT AS tf, sum(sgn)::BIGINT AS weight
      FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket"""
      }),
    /** Executable T5 denoising pairs from the span plan: encoder inputs
      * with sentinel-replaced spans, decoder targets with the hidden
      * tokens — the artifact itself oracle-checked, not just the plan. */
    GateQuery("text_span_corruption_apply", family,
      build = (s, dir) =>
        TextAnalysis.spanCorruptionApply(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // same span chain; segment rows via per-doc lag, ordered string_agg
      // assembly — the identical relational construction as the engine
      oracleSql = s"""
      WITH $spanCorruptionCtes,
      sp2 AS (SELECT doc_id, span_start, span_end,
                (row_number() OVER (PARTITION BY doc_id
                   ORDER BY span_start) - 1)::BIGINT AS k,
                coalesce(lag(span_end) OVER (PARTITION BY doc_id
                   ORDER BY span_start), 0)::BIGINT AS seg_from
              FROM sp),
      raw AS (SELECT s2.doc_id, s2.span_start,
                -- array_to_string of an empty slice is NULL in DuckDB
                -- (Spark's array_join gives ''): coalesce keeps || alive
                coalesce(array_to_string(list_slice(t.tk,
                  (s2.seg_from + 1)::INT, s2.span_start::INT), ' '), '')
                  AS seg,
                '<extra_id_' || s2.k::VARCHAR || '>' AS mk,
                array_to_string(list_slice(t.tk, (s2.span_start + 1)::INT,
                  s2.span_end::INT), ' ') AS spx
              FROM sp2 s2 JOIN toks t USING (doc_id)),
      pieces AS (SELECT doc_id, span_start AS ord,
                   CASE WHEN seg = '' THEN mk
                        ELSE seg || ' ' || mk END AS piece,
                   mk || ' ' || spx AS tpiece
                 FROM raw),
      asm AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY ord) AS body,
                string_agg(tpiece, ' ' ORDER BY ord) AS tgt
              FROM pieces GROUP BY doc_id),
      se AS (SELECT doc_id, max(span_end)::BIGINT AS last_end,
               (max(k) + 1)::BIGINT AS n_sp
             FROM sp2 GROUP BY doc_id),
      corr AS (SELECT a.doc_id,
                 rtrim(a.body || ' ' ||
                   coalesce(array_to_string(list_slice(t.tk,
                     (s.last_end + 1)::INT, len(t.tk)::INT), ' '), ''))
                   AS input_text,
                 a.tgt || ' <extra_id_' || s.n_sp::VARCHAR || '>'
                   AS target_text
               FROM asm a JOIN se s USING (doc_id)
               JOIN toks t USING (doc_id))
      SELECT doc_id, input_text, target_text FROM corr
      UNION ALL
      SELECT t.doc_id, array_to_string(t.tk, ' ') AS input_text,
             '' AS target_text
      FROM toks t WHERE NOT EXISTS (
        SELECT 1 FROM sp2 WHERE sp2.doc_id = t.doc_id)
      ORDER BY doc_id"""),
    /** Executable masked corpus from the MLM plan: [MASK]/vocab-pick/keep
      * applied per position, per-doc action counts beside the text. */
    GateQuery("text_mlm_apply", family,
      build = (s, dir) =>
        TextAnalysis.mlmMaskApply(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      oracleSql = {
        val key = "(doc_id * 100000 + pos)"
        s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, pos::BIGINT AS pos, tok FROM flat
             WHERE tok <> ''),
      vocab AS MATERIALIZED (
        SELECT tok AS vtok,
               (row_number() OVER (ORDER BY c DESC, tok ASC) - 1)::BIGINT AS tid
        FROM (SELECT tok, count(*) AS c FROM f2 GROUP BY tok)
        ORDER BY c DESC, tok ASC LIMIT 1000),
      vn AS (SELECT count(*)::BIGINT AS n FROM vocab),
      h AS (SELECT doc_id, pos, tok,
              ${OracleXX.mix64Pmod(key, 1000000L, seed = 13L)} AS sel,
              ${OracleXX.mix64Pmod(key, 10L, seed = 17L)} AS act,
              ${OracleXX.mix64Pmod(key, 1000L, seed = 22L)} AS rnd
            FROM f2),
      rep AS (SELECT h.doc_id, h.pos,
                CASE WHEN sel < 150000 AND act < 8 THEN '[MASK]'
                     WHEN sel < 150000 AND act = 8 THEN v.vtok
                     ELSE h.tok END AS outt,
                CASE WHEN sel < 150000 THEN
                  (CASE WHEN act < 8 THEN 'mask'
                        WHEN act = 8 THEN 'random' ELSE 'keep' END) END
                  AS action
              FROM h CROSS JOIN vn
              LEFT JOIN vocab v ON v.tid = h.rnd % vn.n)
      SELECT doc_id, string_agg(outt, ' ' ORDER BY pos) AS mlm_text,
             sum(CASE WHEN action = 'mask' THEN 1 ELSE 0 END)::BIGINT
               AS n_masked,
             sum(CASE WHEN action = 'random' THEN 1 ELSE 0 END)::BIGINT
               AS n_random,
             sum(CASE WHEN action = 'keep' THEN 1 ELSE 0 END)::BIGINT
               AS n_kept
      FROM rep GROUP BY doc_id ORDER BY doc_id"""
      }),
    GateQuery("text_fim_apply", family,
      build = (s, dir) =>
        TextAnalysis.fimTransform(t(s, dir, "documents"), "doc_id", "text",
            fimPpm = 500000L, seed = 47L)
          .orderBy("doc_id"),
      // plan hashes + the token-ids vocabulary replica; [MASK]/vocab-pick/
      // keep per position, ordered string_agg reassembly
      // FIM PSM rewrite: selection + both cuts are mix64 draws replayed by
      // the signed replica; cut pmod by the per-doc (n+1) uses the explicit
      // ((h % m) + m) % m form (DuckDB % follows the dividend's sign exactly
      // like Java's, so the wrap is identical); slices/concat are plain list
      // ops; ties and empty parts are format-legal (see fimTransform doc)
      oracleSql = s"""
      WITH t AS (SELECT doc_id, list_filter($sqlToks, x -> x != '') AS tk
                 FROM documents),
      s AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
                   ${OracleXX.mix64Pmod("doc_id", 1000000L, seed = 47L)} AS sel,
                   ${OracleXX.mix64Signed("doc_id", seed = 48L)} AS h1,
                   ${OracleXX.mix64Signed("doc_id", seed = 49L)} AS h2
            FROM t),
      c AS (SELECT doc_id, tk, n, (sel < 500000 AND n >= 2) AS fim,
                   ((h1 % (n + 1)) + (n + 1)) % (n + 1) AS c1,
                   ((h2 % (n + 1)) + (n + 1)) % (n + 1) AS c2
            FROM s),
      ab AS (SELECT doc_id, tk, n, fim,
                    least(c1, c2) AS a, greatest(c1, c2) AS b
             FROM c)
      SELECT doc_id, fim, n AS n_tokens,
             (CASE WHEN fim THEN a END)::BIGINT AS pre_len,
             (CASE WHEN fim THEN b - a END)::BIGINT AS mid_len,
             (CASE WHEN fim THEN n - b END)::BIGINT AS suf_len,
             CASE WHEN fim THEN array_to_string(
                    ['<fim_pre>'] || list_slice(tk, 1, a) ||
                    ['<fim_suf>'] || list_slice(tk, b + 1, n) ||
                    ['<fim_mid>'] || list_slice(tk, a + 1, b), ' ')
                  ELSE array_to_string(tk, ' ') END AS text_fim
      FROM ab ORDER BY doc_id"""),
    /** Materialized training windows from the 512-token pack manifest:
      * one row per (window, slot, token) incl. per-doc <eos> sentinels. */
    GateQuery("text_packing_apply", family,
      build = (s, dir) =>
        TextAnalysis.packApply(t(s, dir, "documents"), "doc_id", "text",
            seqLen = 512L)
          .orderBy("window_id", "win_pos"),
      // concat-and-chunk manifest: EOS-terminated token counts, the same
      // prefix-sum layout as text_packing, one row per (doc, window) overlap
      // segment — pure BIGINT interval arithmetic
      // manifest segments joined with the BPE-ish token stream (+ <eos>):
      // every token lands at win_tok_start + (pos - doc_tok_start)
      oracleSql = s"""
      WITH t AS (
        SELECT doc_id,
               (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) + 1)::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        FROM t),
      seg AS (
        SELECT doc_id, n_tokens, off,
               unnest(range(off // 512, (off + n_tokens - 1) // 512 + 1)) AS w
        FROM c),
      man AS (
        SELECT doc_id, w::BIGINT AS window_id,
               (greatest(off, w * 512) - w * 512)::BIGINT AS win_tok_start,
               (greatest(off, w * 512) - off)::BIGINT AS doc_tok_start,
               (least(off + n_tokens, (w + 1) * 512) - greatest(off, w * 512))::BIGINT AS seg_len
        FROM seg),
      tok AS (
        SELECT doc_id, unnest(list_transform(range(1, len(bt) + 1),
                 i -> {'pos': i - 1, 'tok': bt[i]}), recursive := true)
        FROM (SELECT doc_id,
                list_append(regexp_extract_all(coalesce(text, ''),
                  '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'), '<eos>') AS bt
              FROM documents))
      SELECT m.window_id,
             (m.win_tok_start + t.pos - m.doc_tok_start)::BIGINT AS win_pos,
             t.doc_id, t.tok AS token
      FROM man m JOIN tok t ON t.doc_id = m.doc_id
      WHERE t.pos >= m.doc_tok_start AND t.pos < m.doc_tok_start + m.seg_len
      ORDER BY window_id, win_pos"""),
    /** Hashed linear classifier scoring with the fixed deterministic weight
      * vector — the oracle replays the XXH64 bucketing and the same literal
      * weights, so the approximate-model pipeline itself is verified. */
    GateQuery("text_classifier", family,
      build = (s, dir) =>
        TextAnalysis.classifierScore(t(s, dir, "documents"), "doc_id", "text",
            TextAnalysis.fixedClassifierWeights(64), bias = 5L)
          .orderBy("doc_id"),
      // classifier: per-distinct-token XXH64 → pmod bucket → literal weight
      // lookup, integer sums — the Spark pipeline replayed bit-exactly
      oracleSql = {
        val wl = TextAnalysis.fixedClassifierWeights(64).mkString("[", ", ", "]")
        val bk = OracleXX.xxh64StrPmod("s", 64L, padLen = 20)
        s"""
      WITH tokrows AS (SELECT doc_id, unnest($sqlToks) AS s FROM documents),
      nz AS (SELECT doc_id, s FROM tokrows WHERE s <> ''),
      dh AS MATERIALIZED (SELECT s, $bk AS bk FROM (SELECT DISTINCT s FROM nz)),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                    sum(($wl)[bk+1])::BIGINT AS ws
             FROM nz JOIN dh USING (s) GROUP BY doc_id)
      SELECT d.doc_id, coalesce(sc.n_tokens, 0)::BIGINT AS n_tokens,
             (5 + coalesce(sc.ws, 0))::BIGINT AS score,
             CASE WHEN 5 + coalesce(sc.ws, 0) >= 0
                  THEN 'keep' ELSE 'drop' END AS label
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id"""
      }),
    /** Bigram-LM corpus-fit scoring — integer-ppm MLE transition rates, the
      * perplexity-filter signal without cross-engine `log` hazards. */
    GateQuery("text_lm_score", family,
      build = (s, dir) =>
        TextAnalysis.lmScore(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // bigram LM: the engine groups/joins on xxhash64 keys, the oracle on
      // the token strings — identical partitioning absent a 64-bit collision
      // (the repetitionReport invariance argument); all outputs are integer
      // ppm floors, so the compare is bit-exact
      oracleSql = s"""
      WITH $lmScoreCtes
      SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
             coalesce(sc.sum_ppm, 0)::BIGINT AS sum_ppm,
             CASE WHEN sc.n_bigrams IS NOT NULL
                  THEN sc.sum_ppm // sc.n_bigrams ELSE 0 END::BIGINT AS avg_ppm,
             coalesce(sc.min_ppm, 0)::BIGINT AS min_ppm
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id"""),
    GateQuery("text_kn_score", family,
      build = (s, dir) =>
        TextAnalysis.kneserNeyScore(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // CCNet head/middle/tail terciles on the lm chain: ntile's equal-tile
      // split is SQL-standard (first n-mod-k tiles take the extra row) and
      // the (avg_ppm DESC, doc_id ASC) order is total, so buckets are
      oracleSql = s"""
      WITH $knScoreCtes
      SELECT d.doc_id,
             coalesce(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
             coalesce(sc.sum_ppm, 0)::BIGINT AS sum_ppm,
             CASE WHEN sc.n_bigrams IS NOT NULL
                  THEN sc.sum_ppm // sc.n_bigrams ELSE 0 END::BIGINT AS avg_ppm,
             coalesce(sc.min_ppm, 0)::BIGINT AS min_ppm
      FROM documents d LEFT JOIN sc USING (doc_id)
      ORDER BY doc_id"""),
    /** CCNet-style head/middle/tail perplexity buckets per language on the
      * same bigram-LM chain — the oracle replays the scoring CTEs and the
      * SQL-standard ntile split over the identical total order. */
    GateQuery("text_ppl_buckets", family,
      build = (s, dir) =>
        TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id", "text",
            "lang", buckets = 3)
          .orderBy("doc_id"),
      // engine-exact
      oracleSql = s"""
      WITH $lmScoreCtes,
      scf AS (SELECT d.doc_id, d.lang,
                     (CASE WHEN sc.n_bigrams IS NOT NULL
                           THEN sc.sum_ppm // sc.n_bigrams
                           ELSE 0 END)::BIGINT AS avg_ppm
              FROM documents d LEFT JOIN sc USING (doc_id))
      SELECT doc_id, lang, avg_ppm, bucket,
             CASE WHEN bucket = 1 THEN 'head'
                  WHEN bucket = 3 THEN 'tail' ELSE 'middle' END AS bucket_label
      FROM (SELECT doc_id, lang, avg_ppm,
                   (ntile(3) OVER (PARTITION BY lang
                      ORDER BY avg_ppm DESC, doc_id ASC))::BIGINT AS bucket
            FROM scf)
      ORDER BY doc_id"""),
    /** Bloom-prefiltered corpus-side decontamination: the sketch only cuts
      * pre-shuffle volume (no false negatives; false positives die in the
      * exact semi-join), so the oracle is the plain exact overlap with the
      * roles of text_contamination transposed. */
    GateQuery("text_decontaminate", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.decontaminateReport(
            docs.where(col("doc_id") >= 20), "doc_id", "text",
            docs.where(col("doc_id") < 20), "text", shingleN = 3,
            estimatedBenchShingles = 20000L, numBits = 160000L)
          .orderBy("doc_id")
      },
      // corpus-side decontamination: exact overlap counts (the engine's bloom
      // prefilter provably cannot change the result, so it isn't modeled)
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 20),
      corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      tot AS (SELECT doc_id, len(hs)::BIGINT AS n_shingles FROM sh WHERE doc_id >= 20),
      hit AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM corp
              WHERE h IN (SELECT h FROM bench) GROUP BY 1)
      SELECT t.doc_id, t.n_shingles, coalesce(hit.n_hits, 0)::BIGINT AS n_hits,
             coalesce(hit.n_hits, 0) > 0 AS contaminated
      FROM tot t LEFT JOIN hit USING (doc_id)
      ORDER BY t.doc_id"""),
    /** Thresholded variant: drop only ≥30% shingle overlap with the bench. */
    GateQuery("text_decontaminate_frac", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.decontaminateByFraction(
            docs.where(col("doc_id") >= 20), "doc_id", "text",
            docs.where(col("doc_id") < 20), "text", minFracPpm = 300000L,
            shingleN = 3, estimatedBenchShingles = 20000L, numBits = 160000L)
          .select("doc_id", "lang", "n_shingles", "n_hits")
          .orderBy("doc_id")
      },
      // thresholded twin: kept rows, integer ppm compare on both engines
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      bench AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id < 20),
      corp AS (SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      tot AS (SELECT doc_id, len(hs)::BIGINT AS n_shingles FROM sh WHERE doc_id >= 20),
      hit AS (SELECT doc_id, count(*)::BIGINT AS n_hits FROM corp
              WHERE h IN (SELECT h FROM bench) GROUP BY 1),
      st AS (SELECT t.doc_id, t.n_shingles,
                    coalesce(hit.n_hits, 0)::BIGINT AS n_hits
             FROM tot t LEFT JOIN hit USING (doc_id))
      SELECT d.doc_id, d.lang, st.n_shingles, st.n_hits
      FROM documents d JOIN st USING (doc_id)
      WHERE st.n_shingles = 0 OR st.n_hits * 1000000 < 300000 * st.n_shingles
      ORDER BY d.doc_id"""),
    /** GPT-style concat-and-chunk packing manifest: per (document, window)
      * overlap segments over EOS-terminated token streams cut into
      * 512-token training windows. */
    GateQuery("text_pack_manifest", family,
      build = (s, dir) =>
        TextAnalysis.packManifest(t(s, dir, "documents"), "doc_id", "text",
            seqLen = 512L)
          .orderBy("doc_id", "window_id"),
      oracleSql = s"""
      WITH t AS (
        SELECT doc_id,
               (len(regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) + 1)::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
        FROM t),
      seg AS (
        SELECT doc_id, n_tokens, off,
               unnest(range(off // 512, (off + n_tokens - 1) // 512 + 1)) AS w
        FROM c)
      SELECT doc_id, w::BIGINT AS window_id,
             (greatest(off, w * 512) - w * 512)::BIGINT AS win_tok_start,
             (greatest(off, w * 512) - off)::BIGINT AS doc_tok_start,
             (least(off + n_tokens, (w + 1) * 512) - greatest(off, w * 512))::BIGINT AS seg_len
      FROM seg ORDER BY doc_id, window_id"""),
    /** Retrieval-style sliding-window chunking: 16-token windows advancing
      * by 8 (50% overlap), every token covered, no suffix-subset tail. */
    GateQuery("text_chunks", family,
      build = (s, dir) =>
        TextAnalysis.chunkManifest(t(s, dir, "documents"), "doc_id", "text",
            chunkTokens = 16, strideTokens = 8)
          .orderBy("doc_id", "chunk_idx"),
      // sliding-window chunks: starts = range(0, n, stride) minus windows
      // that begin after the doc is already covered (s = 0 OR s + stride <
      // n, with stride 8 / chunk 16 the generic s - stride + chunk < n)
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      st AS (SELECT doc_id, tk, len(tk)::BIGINT AS n,
               list_filter(range(0, len(tk), 8),
                           s -> s = 0 OR s + 8 < len(tk)) AS ss
             FROM toks),
      ex AS (SELECT doc_id, tk, n,
               unnest(list_transform(range(1, len(ss) + 1),
                 i -> {'ci': i - 1, 's': ss[i]})) AS u
             FROM st)
      SELECT doc_id, (u.ci)::BIGINT AS chunk_idx, (u.s)::BIGINT AS tok_start,
             least(u.s + 16, n)::BIGINT AS tok_end,
             (least(u.s + 16, n) - u.s)::BIGINT AS n_toks,
             array_to_string(list_slice(tk, u.s + 1, least(u.s + 16, n)), ' ')
               AS chunk_text
      FROM ex ORDER BY doc_id, chunk_idx"""),
    GateQuery("text_bpe_merges", family,
      build = (s, dir) =>
        TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", numMerges = 8)
          .orderBy("rank"),
      // winnowing: the hash VALUES drive the min-selection, so the oracle
      // must replicate XXH64 (unlike the grouping-invariant rows); unsigned
      // HUGEINT hashes convert back to signed BIGINT before comparing
      oracleSql = bpeOracle(numMerges = 8)),
    /** Unigram-LM (SentencePiece-style) tokenizer induction — the second
      * tokenizer family next to BPE: substring seed vocabulary, 2 integer
      * EM rounds of Viterbi-segment + coverage-cut recount (see
      * [[TextAnalysis.unigramTrain]]). */
    GateQuery("text_unigram_lm", family,
      build = (s, dir) =>
        TextAnalysis.unigramVocab(t(s, dir, "documents"), "text",
            vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2)
          .orderBy("rank"),
      oracleSql = unigramLmOracle(vocabSize = 48, maxPieceLen = 6,
        maxWordLen = 12, emIters = 2)),
    GateQuery("text_unigram_apply", family,
      build = (s, dir) =>
        TextAnalysis.unigramEncode(t(s, dir, "documents"), "doc_id", "text",
            vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2)
          .orderBy("doc_id"),
      oracleSql = unigramApplyOracle(vocabSize = 48,
        maxPieceLen = 6, maxWordLen = 12, emIters = 2)),
    /** BPE vs unigram side by side, per language: the tokenizer-selection
      * report a corpus team reads before committing to a vocabulary —
      * same word/char denominators, both token streams from the engine's
      * own trainers. */
    GateQuery("text_tokenizer_compare", family,
      build = (s, dir) =>
        // fused form (round-16 verdict #4): one shared word-count base feeds
        // both trainers, one corpus scan encodes with both tokenizers —
        // value-identical to the old bpeFertility ⋈ unigramFertility
        // composition (spec-pinned; oracle hash unchanged)
        TextAnalysis.tokenizerCompareFertility(t(s, dir, "documents"), "text",
            "lang", numMerges = 8, vocabSize = 48, maxPieceLen = 6,
            maxWordLen = 12, emIters = 2)
          .select(col("lang"), col("sum_words"), col("sum_bpe_tokens"),
            col("sum_uni_tokens"), col("bpe_tpw_pm"), col("uni_tpw_pm"))
          .orderBy("lang"),
      oracleSql = tokenizerCompareOracle(numMerges = 8,
        vocabSize = 48, maxPieceLen = 6, maxWordLen = 12, emIters = 2)),
    /** Count-Min heavy hitters: width 32 is deliberately narrow for the gate
      * corpus (31-token synthetic vocabulary) so cell collisions actually
      * occur and the min-over-rows estimate + exact-verify correction are
      * exercised, not vacuously equal. */
    GateQuery("text_heavy_hitters", family,
      build = (s, dir) =>
        TextAnalysis.heavyHitters(t(s, dir, "documents"), "text",
            depth = 4, width = 32, minCount = 100L)
          .orderBy("token"),
      oracleSql = OracleXX.cmsOracle(depth = 4, width = 32,
                                                 minCount = 100L)),
    /** HLL cardinality at p=8 (m=256): every gate lang has ≳3k distinct
      * shingles, ≫ 2.5m, so the raw estimator is in-regime and the ln-free
      * bit-stable path covers the whole output (see
      * `TextAnalysis.hllCardinality`). */
    GateQuery("text_hll_cardinality", family,
      build = (s, dir) =>
        TextAnalysis.hllCardinality(t(s, dir, "documents"), "text", p = 8, "lang")
          .orderBy("lang"),
      oracleSql = OracleXX.hllOracle(p = 8)),
    /** Sketch-algebra gate: per-(lang, source) HLL registers merged up to
      * lang must fingerprint-match the directly-computed lang registers. */
    GateQuery("text_hll_rollup", family,
      build = (s, dir) =>
        TextAnalysis.hllMergeRollup(t(s, dir, "documents"), "text", p = 8,
            fineCol = "source", coarseCol = "lang")
          .orderBy("lang"),
      oracleSql = OracleXX.hllRollupOracle(p = 8)),
    /** Mergeable bottom-k quantile sketch of document lengths per lang —
      * sketch p50/p90/p99 probes beside the exact same-rule overlay
      * ([[TextAnalysis.lengthSketch]]); the fourth native sketch family
      * member (HLL/CMS/Bloom/quantile). */
    GateQuery("text_length_sketch", family,
      build = (s, dir) =>
        TextAnalysis.lengthSketch(t(s, dir, "documents"), "doc_id", "text",
            k = 256, "lang")
          .orderBy("lang"),
      // bottom-k quantile sketch: the k smallest signed-mix64(doc_id) rows
      // per lang are the sample; both arms pick the value at 1-based rank
      // floor(q·(n−1))+1 (one IEEE multiply on exact integer operands).
      // The streaming twin aggregates the SAME buffer under the state store
      // → same oracle (batch/stream parity, like stream_bloom_sketch).
      oracleSql = lengthSketchOracle(k = 256)),
    /** Quantile-sketch algebra gate ([[TextAnalysis.lengthSketchRollup]]):
      * per-(lang, source) sketches merged declaratively (union-truncate)
      * must equal the per-lang sketch computed directly — the storable-
      * column property. */
    GateQuery("text_length_sketch_rollup", family,
      build = (s, dir) =>
        TextAnalysis.lengthSketchRollup(t(s, dir, "documents"), "doc_id", "text",
            k = 256, fineCol = "source", coarseCol = "lang")
          .orderBy("lang"),
      // union-truncate of per-(lang, source) bottom-k sketches equals the
      // per-lang bottom-k directly (any pair among the k smallest of its
      // lang is among the k smallest of its own source subset), so the
      // oracle computes ONE sample and pins both fingerprints to it
      oracleSql = lengthSketchRollupOracle(k = 256)),
    /** Pairwise shared-vocabulary estimates from sketch algebra alone —
      * see [[TextAnalysis.hllIntersectReport]]. */
    GateQuery("text_hll_intersect", family,
      build = (s, dir) =>
        TextAnalysis.hllIntersectReport(t(s, dir, "documents"), "text", "lang",
            p = 8)
          .orderBy("g_a", "g_b"),
      oracleSql = OracleXX.hllIntersectOracle(p = 8)),
    /** Per-lang Bloom membership sketch AS the gate artifact (md5 of the
      * exact 4096-word bit array + set-bit count) — the third mergeable
      * sketch beside HLL and Count-Min; see
      * [[TextAnalysis.bloomSketchWords]]. Sizing: 2^18 bits / k=5 holds the
      * per-lang shingle sets (~3-20k distinct) at a low load factor, so the
      * array is information-bearing, not saturated. */
    GateQuery("text_bloom_sketch", family,
      build = (s, dir) =>
        TextAnalysis.bloomReport(
            TextAnalysis.bloomSketchWords(t(s, dir, "documents"), "text",
              Seq("lang"), numBits = 262144, numHashes = 5),
            numBits = 262144, numHashes = 5, Seq("lang"))
          .orderBy("lang"),
      oracleSql = OracleXX.bloomSketchOracle(numBits = 262144, numHashes = 5)),
    /** Bloom-probed decontamination with the bench sketch broadcast into a
      * codegen'd per-shingle probe — `bloom_hits` beside the exact overlay,
      * so the zero-false-negative contract is a visible row invariant
      * (`bloom_hits >= exact_hits`). See [[TextAnalysis.bloomDecontaminate]]. */
    GateQuery("text_bloom_decontaminate", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.bloomDecontaminate(
            docs.where(col("doc_id") >= 20), "doc_id", "text",
            docs.where(col("doc_id") < 20), "text",
            numBits = 65536, numHashes = 7)
          .orderBy("doc_id")
      },
      oracleSql = OracleXX.bloomDecontaminateOracle(numBits = 65536, numHashes = 7)),
    GateQuery("text_novelty", family,
      build = (s, dir) =>
        TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // df over the shingle posting table; novelty = unique fraction ppm
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
             FROM toks),
      posting AS (SELECT doc_id, unnest(hs) AS h FROM sh),
      dfreq AS (SELECT h, count(*)::BIGINT AS dfh FROM posting GROUP BY 1)
      SELECT doc_id, count(*)::BIGINT AS n_shingles,
             sum(CASE WHEN dfh = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
             ((sum(CASE WHEN dfh = 1 THEN 1 ELSE 0 END) * 1000000)
               // count(*))::BIGINT AS novelty_ppm
      FROM posting JOIN dfreq USING (h)
      GROUP BY doc_id ORDER BY doc_id"""),
    GateQuery("text_quality_calibrated", family,
      build = (s, dir) =>
        TextAnalysis.calibratedQualityFilter(
            t(s, dir, "documents"), "doc_id", "text", "lang", keepFrac = 0.5)
          .orderBy("doc_id"),
      // same quality replica as text_quality + an exact-integer-ratio
      // percentile window; the keep cut applies to the percentile
      oracleSql = s"""
      WITH c AS (
        SELECT doc_id, lang,
               (least(len($sqlToks), 200) * 2 +
                CASE WHEN (CASE WHEN length(text) > 0 THEN
                  floor(len(regexp_extract_all(text, '[.,;:!?]')) * 1000.0 / length(text))::BIGINT
                  ELSE 0 END) <= 80 THEN 300 ELSE 100 END +
                least(${langScoreSql("en")} * 30, 300))::BIGINT AS quality
        FROM documents)
      SELECT doc_id, lang, quality,
             percent_rank() OVER (PARTITION BY lang
               ORDER BY quality, doc_id) AS pct_rank,
             percent_rank() OVER (PARTITION BY lang
               ORDER BY quality, doc_id) >= 0.5::DOUBLE AS kept
      FROM c ORDER BY doc_id"""),
    GateQuery("text_lang_mixture", family,
      build = (s, dir) =>
        TextAnalysis.langMixtureReport(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // 12-token chunking, per-chunk stopword langid (same replica as
      // text_langid, over the chunk tokens), dominant-language rollup
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      segx AS (SELECT doc_id,
                 unnest(list_transform(range(0, greatest((len(tk) + 11) // 12, 1)),
                   i -> array_to_string(list_slice(tk, i*12+1, i*12+12), ' '))) AS seg
               FROM toks),
      sc AS (SELECT doc_id,
               ${langScoreSql("de", "string_split(seg, \' \')")} AS s_de,
               ${langScoreSql("en", "string_split(seg, \' \')")} AS s_en,
               ${langScoreSql("es", "string_split(seg, \' \')")} AS s_es,
               ${langScoreSql("fr", "string_split(seg, \' \')")} AS s_fr,
               ${langScoreSql("zh", "string_split(seg, \' \')")} AS s_zh
             FROM segx),
      pr AS (SELECT doc_id,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS seg_lang
             FROM sc),
      cnt AS (SELECT doc_id, seg_lang, count(*)::BIGINT AS n
              FROM pr GROUP BY 1, 2),
      agg AS (SELECT doc_id, seg_lang, n,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY n DESC, seg_lang DESC) AS rk,
                sum(n) OVER (PARTITION BY doc_id) AS n_seg,
                count(*) OVER (PARTITION BY doc_id) AS n_langs
              FROM cnt)
      SELECT doc_id, n_seg::BIGINT AS n_seg, n_langs::BIGINT AS n_langs,
             seg_lang AS dom_lang, ((n * 1000000) // n_seg)::BIGINT AS dom_ppm,
             n_langs > 1 AS mixed
      FROM agg WHERE rk = 1 ORDER BY doc_id"""),
    GateQuery("text_bpe_apply", family,
      build = (s, dir) =>
        TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
            numMerges = 8)
          .orderBy("doc_id"),
      oracleSql = bpeApplyOracle(numMerges = 8)),
    GateQuery("text_bpe_fertility", family,
      build = (s, dir) =>
        TextAnalysis.bpeFertility(t(s, dir, "documents"), "doc_id", "text",
            "lang", numMerges = 8)
          .orderBy("lang"),
      oracleSql = bpeFertilityOracle(numMerges = 8)),
    GateQuery("text_cooccurrence", family,
      build = (s, dir) =>
        TextAnalysis.cooccurrenceLift(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("tok_a", "tok_b"),
      // lift = pair_n·n_docs/(df_a·df_b): int products + one IEEE divide, no
      // libm log — see TextAnalysis.cooccurrenceLift
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      dt AS (SELECT DISTINCT doc_id, unnest(tk) AS tok FROM toks),
      dtl AS (SELECT doc_id, tok FROM dt WHERE length(tok) >= 3),
      dfreq AS (SELECT tok, count(*)::BIGINT AS df FROM dtl GROUP BY 1),
      kept AS MATERIALIZED (
        SELECT d.doc_id, d.tok, f.df FROM dtl d JOIN dfreq f USING (tok)
        WHERE f.df >= 5
          AND f.df <= floor((SELECT count(*) FROM documents) * 0.9)),
      pr AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS pair_n,
                    any_value(a.df) AS df_a, any_value(b.df) AS df_b
             FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
             GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT tok_a, tok_b, pair_n, df_a, df_b,
             pair_n::DOUBLE * (SELECT count(*) FROM documents)
               / (df_a * df_b)::DOUBLE AS lift
      FROM pr ORDER BY tok_a, tok_b"""),
    /** Winnowing fingerprints (Schleimer 2003): the oracle replays the
      * positional 4-gram hashing (XXH64 replica, converted back to signed so
      * min-comparisons agree) and the 8-window rightmost-min selection as a
      * brute-force window join. */
    GateQuery("text_winnow", family,
      build = (s, dir) =>
        TextAnalysis.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
            n = 4, window = 8)
          .orderBy("doc_id", "pos"),
      oracleSql = s"""${winnowCtes()}
      SELECT doc_id, pos, hash FROM sel ORDER BY doc_id, pos"""),
    GateQuery("text_contamination", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.contamination(
            docs.where(col("doc_id") >= 20), "text",
            docs.where(col("doc_id") < 20), "doc_id", "text")
          .orderBy("bench_id")
      },
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      sh AS (
        SELECT doc_id,
               CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(tk) - 1),
                         i -> array_to_string(list_slice(tk, i, i + 2), ' '))) END AS hs
        FROM toks),
      corpus AS (SELECT DISTINCT unnest(hs) AS h FROM sh WHERE doc_id >= 20),
      bench AS (SELECT doc_id AS bench_id, unnest(hs) AS h FROM sh WHERE doc_id < 20),
      tot AS (SELECT bench_id, count(*)::BIGINT AS n_shingles FROM bench GROUP BY 1),
      hit AS (SELECT bench_id, count(*)::BIGINT AS n_hits FROM bench
              WHERE h IN (SELECT h FROM corpus) GROUP BY 1)
      SELECT t.bench_id, t.n_shingles, coalesce(hit.n_hits, 0)::BIGINT AS n_hits,
             coalesce(hit.n_hits, 0)::DOUBLE / t.n_shingles AS contamination
      FROM tot t LEFT JOIN hit ON t.bench_id = hit.bench_id
      ORDER BY t.bench_id"""),
    GateQuery("text_packing", family,
      build = (s, dir) =>
        TextAnalysis.packingOffsets(t(s, dir, "documents"), "doc_id", "text",
            seqLen = 2048L)
          .orderBy("doc_id"),
      oracleSql = s"""
      WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tokens
        FROM documents),
      c AS (
        SELECT doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS "offset"
        FROM t)
      SELECT doc_id, n_tokens, "offset",
             "offset" // 2048 AS chunk_start,
             CASE WHEN n_tokens > 0 THEN ("offset" + n_tokens - 1) // 2048
                  ELSE "offset" // 2048 END AS chunk_end
      FROM c ORDER BY doc_id"""),
    GateQuery("text_quality_filter", family,
      build = (s, dir) =>
        TextAnalysis.qualityFilter(t(s, dir, "documents"), "text", 450L,
            langs = Seq("en", "fr"))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      oracleSql = s"""
      WITH $qualityKeptCtes
      SELECT doc_id, lang, source FROM kept ORDER BY doc_id"""),
    /** The composed Gopher A1 filter: quality + language + 2-gram repetition
      * caps; the narrow predicate runs first so only its survivors pay the
      * n-gram shuffle. */
    GateQuery("text_gopher_filter", family,
      build = (s, dir) =>
        TextAnalysis.gopherFilter(t(s, dir, "documents"), "doc_id", "text",
            minScore = 450L, langs = Seq("en", "fr"),
            maxDupPpm = 120000L, maxTopPpm = 60000L, ns = Seq(2))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id"),
      // the full Gopher composite: quality/language keep AND 2-gram
      // repetition caps (dup_ppm <= 120000, top_ppm <= 60000), repetition
      // computed over the kept set only (per-doc signals — order-invariant)
      oracleSql = s"""
      WITH $gopherKeptCtes
      SELECT doc_id, lang, source FROM gkept
      ORDER BY doc_id"""),
    GateQuery("text_token_ids", family,
      build = (s, dir) =>
        TextAnalysis.tokenIds(t(s, dir, "documents"), "doc_id", "text",
            vocabSize = 1000)
          .orderBy("doc_id", "pos"),
      oracleSql = s"""
      WITH toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      tf AS (SELECT unnest(tk) AS tok FROM toks),
      vocab AS MATERIALIZED (
        SELECT tok, (row_number() OVER (ORDER BY c DESC, tok ASC) - 1)::BIGINT AS tid
        FROM (SELECT tok, count(*) AS c FROM tf WHERE tok <> '' GROUP BY tok)
        ORDER BY c DESC, tok ASC LIMIT 1000),
      flat AS (
        SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks)
      SELECT doc_id, pos::INT AS pos, coalesce(v.tid, 1000)::INT AS token_id
      FROM flat LEFT JOIN vocab v USING (tok)
      ORDER BY doc_id, pos"""),
    /** Gopher-style per-doc repetition signals over word 2- and 3-grams. */
    GateQuery("text_repetition", family,
      build = (s, dir) =>
        TextAnalysis.repetitionReport(t(s, dir, "documents"), "doc_id", "text",
            ns = Seq(2, 3))
          .orderBy("doc_id", "n"),
      // repetition signals: the per-doc aggregates are functions of the
      // n-gram count multiset, so the oracle groups on gram STRINGS while the
      // engine groups on xxhash64(gram) — identical integers either way
      oracleSql = s"""
      WITH toks AS MATERIALIZED (SELECT doc_id, $sqlToks AS tk FROM documents),
      ng AS (
        SELECT doc_id, n,
               list_transform(range(1, greatest(len(tk) - n + 2, 1)),
                 i -> array_to_string(list_slice(tk, i, i + n - 1), ' ')) AS gs
        FROM toks, (SELECT unnest([2, 3]) AS n) nn),
      p AS (SELECT doc_id, n, unnest(gs) AS g FROM ng),
      c AS (SELECT doc_id, n, g, count(*)::BIGINT AS cnt FROM p GROUP BY 1, 2, 3),
      agg AS (
        SELECT doc_id, n, sum(cnt)::BIGINT AS total,
               coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0)::BIGINT AS dup,
               max(cnt)::BIGINT AS top
        FROM c GROUP BY 1, 2)
      SELECT t.doc_id, t.n,
             coalesce(a.total, 0)::BIGINT AS total_ngrams,
             coalesce(a.dup * 1000000 // a.total, 0)::BIGINT AS dup_ppm,
             coalesce(a.top * 1000000 // a.total, 0)::BIGINT AS top_ppm
      FROM (SELECT doc_id, n FROM toks, (SELECT unnest([2, 3]) AS n) nn) t
      LEFT JOIN agg a USING (doc_id, n)
      ORDER BY doc_id, n"""),
    GateQuery("text_tfidf", family,
      build = (s, dir) =>
        TextAnalysis.tfidfTopK(t(s, dir, "documents"), "doc_id", "text", k = 5)
          .orderBy("doc_id", "rank"),
      // tf-idf with the non-log idf variant N/df: integer-valued doubles and
      // one exact-rounded division — bit-identical across engines (ln is not
      // correctly-rounded and could flip near-tie rankings)
      oracleSql = s"""
      WITH tr AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tr GROUP BY 1, 2),
      dfr AS (SELECT term, count(*)::BIGINT AS df_docs FROM tf GROUP BY term),
      scored AS (
        SELECT doc_id, term, tf, df_docs,
               tf::DOUBLE * (SELECT count(*)::DOUBLE FROM documents)
                 / df_docs::DOUBLE AS score
        FROM tf JOIN dfr USING (term)),
      rk AS (SELECT *, row_number() OVER
               (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
             FROM scored)
      SELECT doc_id, term, tf, df_docs, score, rank::BIGINT AS rank
      FROM rk WHERE rank <= 5 ORDER BY doc_id, rank"""),
    GateQuery("text_commonness", family,
      build = (s, dir) =>
        TextAnalysis.commonnessReport(t(s, dir, "documents"), "doc_id", "text")
          .orderBy("doc_id"),
      // commonness: BIGINT sums (order-free) + one exact-rounded division
      oracleSql = s"""
      WITH tr AS (SELECT doc_id, unnest($sqlToks) AS term FROM documents),
      tc AS (SELECT term, count(*)::BIGINT AS term_freq FROM tr GROUP BY term)
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
             sum(term_freq)::BIGINT AS sum_freq,
             sum(CASE WHEN term_freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
             sum(term_freq)::DOUBLE / count(*)::DOUBLE AS mean_freq
      FROM tr JOIN tc USING (term) GROUP BY doc_id ORDER BY doc_id"""),
    GateQuery("text_redact", family,
      build = (s, dir) => {
        val docs = t(s, dir, "documents")
        TextAnalysis.redact(docs, "text")
          .select(col("doc_id"), md5(to_binary(col("text"), lit("utf-8"))).as("redacted_md5"))
          .join(docs.select(col("doc_id"),
            md5(to_binary(col("text"), lit("utf-8"))).as("orig_md5")), "doc_id")
          .select(col("doc_id"), col("redacted_md5"),
            (col("redacted_md5") =!= col("orig_md5")).as("changed"))
          .orderBy("doc_id")
      },
      // oracle regexes generated from the SAME RedactionPatterns list the
      // engine applies (Java regex and RE2 agree on these constructs)
      oracleSql = {
        val redacted = TextAnalysis.RedactionPatterns.foldLeft("text") {
          case (acc, (p, repl)) => s"regexp_replace($acc, '$p', '$repl', 'g')"
        }
        s"""
      SELECT doc_id, md5($redacted) AS redacted_md5,
             (md5($redacted) <> md5(text)) AS changed
      FROM documents ORDER BY doc_id"""
      })
  )

  /** Rollup replica: one per-lang bottom-k sample pins BOTH fingerprints
    * (merged = direct by the union-truncate identity). */
  private def lengthSketchRollupOracle(k: Int): String = {
    val h = OracleXX.mix64Signed("doc_id", seed = 0L)
    s"""
      WITH d AS MATERIALIZED (
        SELECT lang, length(text)::BIGINT AS v, $h AS hh FROM documents),
      r AS (SELECT lang, v, hh,
                   row_number() OVER (PARTITION BY lang ORDER BY hh, v) AS rn
            FROM d),
      f AS (SELECT lang,
                   md5(string_agg(hh::VARCHAR || ':' || v::VARCHAR, ','
                     ORDER BY hh, v)) AS fp,
                   count(*)::BIGINT AS m,
                   list_sort(list(v)) AS sv
            FROM r WHERE rn <= $k GROUP BY lang)
      SELECT lang, m AS sample_n, fp AS merged_md5, fp AS direct_md5,
             TRUE AS merged_eq_direct,
             list_extract(sv, floor(0.5::DOUBLE  * (m - 1)::DOUBLE)::BIGINT + 1) AS p50_est,
             list_extract(sv, floor(0.99::DOUBLE * (m - 1)::DOUBLE)::BIGINT + 1) AS p99_est
      FROM f ORDER BY lang"""
  }

  /** DuckDB replica of `TextAnalysis.bpeMerges`: the k merge iterations are
    * unrolled as staged CTE blocks (the kmeans-oracle pattern). Each block
    * replays one iteration relationally: pair-weight aggregation → argmax
    * with the engine's exact `(weight DESC, l, r)` tie-break → the greedy
    * left-to-right merge, which the engine does as an array fold and the
    * oracle as islands-and-parity over exploded positions (consecutive
    * overlapping occurrences — only possible for (a,a) pairs — form an
    * island; the 1st, 3rd, … members merge, the following position is
    * consumed). Pure BIGINT weights and `[a-z0-9]` symbol strings, so the
    * merge table matches bit-for-bit. */
  private def bpeCtes(numMerges: Int): String = {
    def iterBlock(k: Int): String = {
      val p = k - 1
      s"""
      p$k AS (
        SELECT pr.l AS l, pr.r AS r, sum(cnt)::BIGINT AS weight
        FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                i -> {'l': syms[i], 'r': syms[i + 1]})) AS pr
              FROM s$p WHERE len(syms) >= 2)
        GROUP BY 1, 2),
      b$k AS MATERIALIZED (SELECT l, r, weight FROM p$k
              ORDER BY weight DESC, l ASC, r ASC LIMIT 1),
      e$k AS (SELECT w, cnt, unnest(range(1, len(syms) + 1)) AS pos, syms
              FROM s$p),
      x$k AS (SELECT w, cnt, pos, syms[pos] AS sym,
                (syms[pos] = (SELECT l FROM b$k) AND
                 pos < len(syms) AND
                 syms[pos + 1] = (SELECT r FROM b$k)) AS occ
              FROM e$k),
      g$k AS (SELECT *, CASE WHEN occ THEN pos - row_number()
                OVER (PARTITION BY w, occ ORDER BY pos) END AS isl
              FROM x$k),
      sel$k AS (SELECT *, occ AND (row_number()
                OVER (PARTITION BY w, isl ORDER BY pos) % 2 = 1) AS sel
              FROM g$k),
      m$k AS (SELECT *, coalesce(lag(sel) OVER (PARTITION BY w ORDER BY pos),
                false) AS consumed
              FROM sel$k),
      s$k AS MATERIALIZED (SELECT w, any_value(cnt) AS cnt,
                list(CASE WHEN sel THEN sym || (SELECT r FROM b$k) ELSE sym END
                     ORDER BY pos) AS syms
              FROM m$k WHERE NOT consumed GROUP BY w)"""
    }
    s"""w0 AS (SELECT w, count(*)::BIGINT AS cnt
             FROM (SELECT unnest($sqlToks) AS w FROM documents)
             WHERE len(w) > 0 GROUP BY 1),
      s0 AS MATERIALIZED (SELECT w, cnt,
               list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
             FROM w0),
      ${(1 to numMerges).map(iterBlock).mkString(",")}"""
  }

  private def bpeOracle(numMerges: Int): String = {
    val unions = (1 to numMerges)
      .map(k => s"""SELECT $k AS rank, l AS "left", r AS "right", weight FROM b$k""")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)}
      SELECT * FROM ($unions) ORDER BY rank"""
  }

  /** DuckDB replica of `TextAnalysis.bpeEncode`: the learned merge table
    * (shared `bpeCtes` chain — single source of truth with the
    * `text_bpe_merges` oracle) collected into rank-ordered pattern/
    * replacement lists, then applied to every word as the same
    * `numMerges`-deep chain of literal `replace` calls the engine uses.
    * `replace` is leftmost-non-overlapping in both engines — exactly the
    * trainer's greedy fold (see `bpeMerges`) — and an exhausted merge slot
    * no-ops via a `chr(1)` pattern that cannot occur in `[a-z0-9 ]` text. */
  private def bpeApplyOracle(numMerges: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      dtk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      enc AS (SELECT doc_id, len(tk)::BIGINT AS n_words,
                list_transform(tk, w -> $chain) AS ew
              FROM dtk CROSS JOIN mg),
      rep AS (SELECT doc_id, n_words,
                list_aggregate(list_transform(ew, e ->
                  CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END),
                  'sum')::BIGINT AS n_tokens_bpe,
                md5(array_to_string(ew, ' | ')) AS enc_md5
              FROM enc)
      SELECT doc_id, n_words, n_tokens_bpe, enc_md5 FROM rep ORDER BY doc_id"""
  }

  /** DuckDB replica of the unigram-LM tokenizer
    * (`TextAnalysis.unigramTrain` / `unigramEncode`): word-frequency table
    * → substring seed vocabulary (coverage cut) → `emIters` rounds of
    * {unrolled Viterbi DP, recount, coverage cut}. The DP is the engine's
    * lexicographic integer objective replayed relationally: one CTE per
    * word position holds the best (np ASC, mass DESC, seg ASC) state —
    * candidates are the ≤ `maxPieceLen` predecessors' states extended by
    * one piece (length-1 pieces always valid at coalesce-0 frequency,
    * longer ones LEFT-JOIN-validated against the round's vocabulary) and
    * a `row_number` argmin picks the survivor. `seg ASC` compares
    * identically cross-engine on the `[a-z0-9 ]` alphabet. */
  private def unigramCtes(vocabSize: Int, maxPieceLen: Int, maxWordLen: Int,
                          emIters: Int, finalSeg: Boolean): String = {
    def cut(src: String) = s"""
      SELECT p AS piece, sum(cnt)::BIGINT AS freq FROM $src GROUP BY 1
      ORDER BY sum(cnt) * len(p) DESC, p ASC LIMIT $vocabSize"""
    def dpBlock(tag: String, vocab: String): String = {
      val positions = (1 to maxWordLen).map { j =>
        val arms = (math.max(0, j - maxPieceLen) until j).map { i =>
          s"""SELECT w, cnt, np, mass, seg, substr(w, ${i + 1}, ${j - i}) AS p
              FROM d${i}_$tag WHERE len(w) >= $j"""
        }.mkString(" UNION ALL ")
        s"""
      c${j}_$tag AS (
        SELECT q.w, q.cnt, q.np + 1 AS np,
               q.mass + coalesce(v.freq, 0) AS mass,
               CASE WHEN q.seg = '' THEN q.p
                    ELSE q.seg || ' ' || q.p END AS seg
        FROM ($arms) q LEFT JOIN $vocab v ON v.piece = q.p
        WHERE len(q.p) = 1 OR v.piece IS NOT NULL),
      d${j}_$tag AS MATERIALIZED (
        SELECT w, cnt, np, mass, seg FROM (
          SELECT *, row_number() OVER (PARTITION BY w
            ORDER BY np ASC, mass DESC, seg ASC) AS rn
          FROM c${j}_$tag) WHERE rn = 1)"""
      }.mkString(",")
      val finals = (1 to maxWordLen)
        .map(j => s"SELECT w, cnt, seg FROM d${j}_$tag WHERE len(w) = $j")
        .mkString(" UNION ALL ")
      s"""
      d0_$tag AS (SELECT w, cnt, 0 AS np, 0::BIGINT AS mass, '' AS seg
                  FROM wd),
      $positions,
      sg_$tag AS MATERIALIZED ($finals)"""
    }
    val rounds = (1 to emIters).map { k =>
      s"""${dpBlock(s"e$k", s"vc${k - 1}")},
      vc$k AS MATERIALIZED (${cut(
        s"(SELECT cnt, unnest(string_split(seg, ' ')) AS p FROM sg_e$k)")})"""
    }.mkString(",")
    val fin = if (!finalSeg) ""
      else s",${dpBlock("fin", s"vc$emIters")}"
    s"""wd AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS cnt
        FROM (SELECT unnest($sqlToks) AS w FROM documents)
        WHERE len(w) > 0 AND len(w) <= $maxWordLen GROUP BY 1),
      sc AS (
        SELECT cnt, unnest(flatten(list_transform(range(1, len(w) + 1),
          st -> list_transform(
            range(1, least($maxPieceLen, len(w) - st + 1) + 1),
            pl -> substr(w, st, pl))))) AS p
        FROM wd),
      vc0 AS MATERIALIZED (${cut("sc")}),
      $rounds
      $fin"""
  }

  private def unigramLmOracle(vocabSize: Int, maxPieceLen: Int,
                              maxWordLen: Int, emIters: Int): String = s"""
      WITH ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                         finalSeg = false)}
      SELECT row_number() OVER (
               ORDER BY freq * len(piece) DESC, piece ASC)::BIGINT AS rank,
             piece, freq, (freq * len(piece))::BIGINT AS coverage_chars
      FROM vc$emIters ORDER BY rank"""

  /** Per-document encode replica: the final-vocabulary DP block gives each
    * word its segmentation; documents re-tokenize with ordinality so the
    * md5 stream pin (`' | '`-joined) reproduces word order exactly. */
  private def unigramApplyOracle(vocabSize: Int, maxPieceLen: Int,
                                 maxWordLen: Int, emIters: Int): String = s"""
      WITH ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                         finalSeg = true)},
      dtk AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      ex AS (SELECT doc_id, len(tk) AS nw,
               unnest(range(1, len(tk) + 1)) AS i, tk
             FROM dtk),
      ewx AS (SELECT doc_id, nw, i, tk[i] AS w FROM ex),
      sj AS (SELECT e.doc_id, e.nw, e.i,
               CASE WHEN e.w = '' THEN ''
                    WHEN len(e.w) > $maxWordLen THEN e.w
                    ELSE s.seg END AS seg
             FROM ewx e LEFT JOIN sg_fin s ON e.w = s.w),
      enc AS (SELECT doc_id, any_value(nw)::BIGINT AS n_words,
                sum(CASE WHEN seg = '' THEN 0
                    ELSE len(string_split(seg, ' ')) END)::BIGINT
                  AS n_tokens_uni,
                md5(string_agg(seg, ' | ' ORDER BY i)) AS enc_md5
              FROM sj GROUP BY doc_id)
      SELECT doc_id, n_words, n_tokens_uni, enc_md5 FROM enc
      ORDER BY doc_id"""

  /** BPE-vs-unigram comparison replica: both trainer chains (`bpeCtes` +
    * `unigramCtes` — disjoint CTE namespaces) in one WITH, each encoding
    * the corpus its own way, joined per language on identical word
    * denominators. */
  private def tokenizerCompareOracle(numMerges: Int, vocabSize: Int,
                                     maxPieceLen: Int, maxWordLen: Int,
                                     emIters: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      ${unigramCtes(vocabSize, maxPieceLen, maxWordLen, emIters,
                    finalSeg = true)},
      dtk2 AS MATERIALIZED (SELECT lang, $sqlToks AS tk FROM documents),
      benc AS (SELECT lang, len(tk)::BIGINT AS nw,
                 list_transform(tk, w -> $chain) AS ew
               FROM dtk2 CROSS JOIN mg),
      bagg AS (SELECT lang, sum(nw)::BIGINT AS sum_words,
                 sum(list_aggregate(list_transform(ew, e ->
                   CASE WHEN e = '' THEN 0
                        ELSE len(string_split(e, ' ')) END),
                   'sum'))::BIGINT AS sum_bpe_tokens
               FROM benc GROUP BY 1),
      uex AS (SELECT lang, unnest(range(1, len(tk) + 1)) AS i, tk
              FROM dtk2),
      uw AS (SELECT lang, tk[i] AS w FROM uex),
      usj AS (SELECT u.lang,
                CASE WHEN u.w = '' THEN ''
                     WHEN len(u.w) > $maxWordLen THEN u.w
                     ELSE s.seg END AS seg
              FROM uw u LEFT JOIN sg_fin s ON u.w = s.w),
      uagg AS (SELECT lang,
                 sum(CASE WHEN seg = '' THEN 0
                     ELSE len(string_split(seg, ' ')) END)::BIGINT
                   AS sum_uni_tokens
               FROM usj GROUP BY 1)
      SELECT b.lang, b.sum_words, b.sum_bpe_tokens, u.sum_uni_tokens,
             CASE WHEN b.sum_words = 0 THEN NULL
                  ELSE (b.sum_bpe_tokens * 1000 // b.sum_words) END
               ::BIGINT AS bpe_tpw_pm,
             CASE WHEN b.sum_words = 0 THEN NULL
                  ELSE (u.sum_uni_tokens * 1000 // b.sum_words) END
               ::BIGINT AS uni_tpw_pm
      FROM bagg b JOIN uagg u USING (lang) ORDER BY lang"""
  }

  /** Per-lang fertility rollup over the same BPE-apply replica chain. */
  private def bpeFertilityOracle(numMerges: Int): String = {
    val chain = (1 to numMerges).foldLeft(
      "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')") {
      (acc, k) =>
        s"replace($acc, coalesce(pats[$k], chr(1)), coalesce(reps[$k], ''))"
    }
    val unions = (1 to numMerges)
      .map(k => s"SELECT $k AS rank, l, r FROM b$k")
      .mkString(" UNION ALL ")
    s"""
      WITH ${bpeCtes(numMerges)},
      mg AS MATERIALIZED (
        SELECT list(l || ' ' || r ORDER BY rank) AS pats,
               list(l || r ORDER BY rank) AS reps
        FROM ($unions)),
      dtk AS (SELECT doc_id, lang, $sqlToks AS tk FROM documents),
      enc AS (SELECT doc_id, lang, len(tk)::BIGINT AS nw,
                list_aggregate(list_transform(tk, w -> len(w)), 'sum')::BIGINT AS nc,
                list_transform(tk, w -> $chain) AS ew
              FROM dtk CROSS JOIN mg),
      rep AS (SELECT lang, nw, nc,
                list_aggregate(list_transform(ew, e ->
                  CASE WHEN e = '' THEN 0 ELSE len(string_split(e, ' ')) END),
                  'sum')::BIGINT AS nt
              FROM enc),
      agg AS (SELECT lang, sum(nw)::BIGINT AS sum_words,
                sum(nc)::BIGINT AS sum_word_chars,
                sum(nt)::BIGINT AS sum_bpe_tokens
              FROM rep GROUP BY 1)
      SELECT lang, sum_words, sum_word_chars, sum_bpe_tokens,
             CASE WHEN sum_words = 0 THEN NULL
                  ELSE (sum_bpe_tokens * 1000) // sum_words END AS tokens_per_word_pm,
             CASE WHEN sum_bpe_tokens = 0 THEN NULL
                  ELSE (sum_word_chars * 1000) // sum_bpe_tokens END AS chars_per_token_pm
      FROM agg ORDER BY lang"""
  }

  /** Shared CTE chain for the bigram-LM family — the DuckDB replica of
    * `TextAnalysis.lmScore` (string bigrams where the engine uses xxhash64
    * keys — identical grouping absent a 64-bit collision; integer-ppm MLE
    * rates), ending in `sc(doc_id, n_bigrams, sum_ppm, min_ppm)`. Docs
    * with < 2 tokens are absent from `sc` — callers zero-fill via LEFT
    * JOIN. `text_lm_score` dumps it; `text_ppl_buckets` adds the ntile
    * split. */
  private lazy val lmScoreCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
             FROM toks WHERE len(tk) >= 2),
      c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
      rates AS (SELECT w1, w2,
                  c2 * 1000000 // (sum(c2) OVER (PARTITION BY w1))::BIGINT AS ppm
                FROM c2),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                    sum(ppm)::BIGINT AS sum_ppm, min(ppm)::BIGINT AS min_ppm
             FROM bg JOIN rates USING (w1, w2) GROUP BY doc_id)"""

  /** CTE chain ending in `sp(doc_id, gid, span_start, span_end, n_starts)`
    * — the span-corruption plan replica shared by the plan gate and the
    * apply gate. */
  private lazy val spanCorruptionCtes: String = {
    val key = "(doc_id * 100000 + pos)"
    s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      flat AS (
        SELECT doc_id, len(tk)::BIGINT AS n_toks,
               unnest(list_transform(range(1, len(tk) + 1),
                 i -> {'pos': i - 1, 'tok': tk[i]}), recursive := true)
        FROM toks),
      f2 AS (SELECT doc_id, n_toks, pos::BIGINT AS pos FROM flat
             WHERE tok <> ''),
      st AS (SELECT doc_id, pos,
               least(pos + 1 + ${OracleXX.mix64Pmod(key, 5L, seed = 35L)},
                     n_toks)::BIGINT AS e
             FROM f2
             WHERE ${OracleXX.mix64Pmod(key, 1000000L, seed = 31L)} < 50000),
      m AS (SELECT doc_id, pos, e,
              max(e) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
            FROM st),
      b AS (SELECT doc_id, pos, e,
              CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END AS brk
            FROM m),
      g AS (SELECT doc_id, pos, e,
              sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
              )::BIGINT AS gid
            FROM b),
      sp AS (SELECT doc_id, gid, min(pos)::BIGINT AS span_start,
               max(e)::BIGINT AS span_end, count(*)::BIGINT AS n_starts
             FROM g GROUP BY 1, 2)"""
  }

  /** Kneser-Ney replica: the lmScore bigram CTEs extended with the two
    * continuation statistics; all products lifted to HUGEINT (the engine
    * uses DECIMAL(38)) so the ppm floor is exact at any count scale. */
  private lazy val knScoreCtes = s"""toks AS (SELECT doc_id, $sqlToks AS tk FROM documents),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
               i -> {'w1': tk[i], 'w2': tk[i+1]}), recursive := true)
             FROM toks WHERE len(tk) >= 2),
      c2t AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
      nb AS (SELECT count(*)::BIGINT AS nbi FROM c2t),
      st AS (SELECT w1, w2, c2,
               (sum(c2) OVER (PARTITION BY w1))::BIGINT AS c1,
               (count(*) OVER (PARTITION BY w1))::BIGINT AS n1w1,
               (count(*) OVER (PARTITION BY w2))::BIGINT AS n1w2
             FROM c2t),
      rates AS (SELECT w1, w2,
          ((1000000::HUGEINT *
            ((4 * c2 - 3) * nbi::HUGEINT + 3::HUGEINT * n1w1 * n1w2))
           // (4::HUGEINT * c1 * nbi))::BIGINT AS ppm
        FROM st CROSS JOIN nb),
      sc AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
                    sum(ppm)::BIGINT AS sum_ppm, min(ppm)::BIGINT AS min_ppm
             FROM bg JOIN rates USING (w1, w2) GROUP BY doc_id)"""
}
