package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Curation, Decontaminate, Dedup, LshGuard, Multimodal, Similarity, TextAnalysis}

/** LLM-training-data pipeline operators as driver queries. Everything
  * with an ANSI-SQL-expressible answer carries a DuckDB oracle —
  * including MinHash-LSH (its VERIFIED pairs are checked against a full
  * all-pairs Jaccard oracle, even though the hashes themselves are
  * murmur3), the stub decode (its sniffed-format projection), and the
  * raw SimHash signatures (md5-derived token hash chosen precisely so
  * DuckDB recomputes every bit — see simhashOracle; no rows-only
  * exemptions remain). Every centroid-dependent path is
  * oracle-GATED in-query against its exact twin: ann_ivf_recall for
  * search, dedup_embedding_recall for near-dup pairs. All
  * deterministic.
  */
object PipelineQueries {

  /** Build-once memo for the persisted IVF-PQ index the search-only
    * channel reads (ann_ivfpq_search_indexed): a production pipeline
    * builds the index once and searches it many times, so the search
    * channel must not re-pay training per rep — that cost is
    * ann_ivfpq_clustered's claim. Keyed on (applicationId, sfDir) like
    * the streaming drain memos; training is deterministic (same params
    * as the build channel), so WHICH rep built the dir cannot matter.
    * The temp dirs die with the JVM's shutdown hook.
    */
  private val ivfpqIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  private def ivfpqIndexDir(s: org.apache.spark.sql.SparkSession,
                            sfDir: String,
                            corpus: org.apache.spark.sql.DataFrame)
      : String =
    ivfpqIndexDirs.computeIfAbsent(
      (s.sparkContext.applicationId, sfDir), _ => {
        val dir =
          java.nio.file.Files.createTempDirectory("graft-ivfpq-memo")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          graft.PlanHygiene.deleteRecursively(dir)))
        // EXACTLY ann_ivfpq_clustered's operating point, so the
        // tri-SF recall measurement transfers to the loaded search
        Similarity.saveIvfPqIndex(corpus,
          Similarity.kmeansCentroids(corpus, 16, 3),
          Similarity.pqCodebooks(corpus, m = 8, ksub = 16, iters = 1,
            dim = 64),
          dir.toString)
        dir.toString
      })

  /** The pipeline_line_dedup injection, shared with the spec that pins
    * the strip path actually firing (per-source header on every doc,
    * footer on even docs, unique per-doc ref line).
    */
  private[graft] def lineDedupInjected(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(
      col("doc_id"), col("source"),
      concat_ws("\n",
        concat(lit("promo header "), col("source")),
        col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit("subscribe today "), col("source"))),
        concat(lit("ref code "), col("doc_id"))).as("text"))

  /** The text_c4_filters injection, shared with the spec that pins each
    * rule actually firing: the corpus has no line structure or
    * punctuation, so every doc gets a deterministic mix of C4-clean
    * sentences (terminal punctuation, ≥3 words), a punctuation-less
    * line, a "javascript" nav line, a too-short line, and — on modular
    * doc_id slices — the two page poisons ("lorem ipsum", a curly
    * brace). Both engines build the identical text from the same base
    * tokens.
    */
  private[graft] def c4Injected(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        explode(array(TextAnalysis.tokens)).as("toks"))
      .select(
        col("doc_id"),
        concat_ws("\n",
          concat(array_join(slice(col("toks"), 1, 8), " "), lit(".")),
          array_join(slice(col("toks"), 9, 8), " "),
          lit("nav menu javascript links."),
          lit("ok."),
          concat(array_join(slice(col("toks"), 17, 10), " "), lit(" done.")),
          when(col("doc_id") % 13 === 0, lit("lorem ipsum dolor sit.")),
          when(col("doc_id") % 17 === 0, lit("template { x }")),
          concat(array_join(slice(col("toks"), 27, 10), " "), lit(" end!")))
          .as("text"))

  /** The pipeline_intra_dedup injection, shared with the spec: a chorus
    * line repeated three times and a footer repeated twice INSIDE every
    * doc — the within-doc repeats the corpus itself lacks — plus two
    * body slices and a unique ref line. Both engines build identical
    * text from the same base tokens.
    */
  private[graft] def intraDupInjected(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        explode(array(TextAnalysis.tokens)).as("toks"))
      .select(
        col("doc_id"),
        concat_ws("\n",
          array_join(slice(col("toks"), 1, 10), " "),
          lit("subscribe to our newsletter"),
          array_join(slice(col("toks"), 11, 10), " "),
          lit("subscribe to our newsletter"),
          lit("all rights reserved"),
          lit("subscribe to our newsletter"),
          lit("all rights reserved"),
          concat(lit("ref "), col("doc_id"))).as("text"))

  /** The text_html_extract injection: wrap every doc's tokens in a
    * realistic HTML page — style and script blocks (whose content must
    * vanish whole, including the `1 < 2` that would derail a naive tag
    * regex), a comment, heading/paragraph/bold tags, and the common
    * entities including the `&amp;lt;` double-decode trap. Both
    * engines build identical markup from the same base tokens.
    */
  private[graft] def htmlInjected(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        explode(array(TextAnalysis.tokens)).as("toks"))
      .select(
        col("doc_id"),
        concat(
          lit("<html><head><style type=\"text/css\">body { color: red; }" +
            "</style><script>var x = 1 < 2; // noise\n</script></head>" +
            "<body><!-- crawl comment\n id "),
          col("doc_id"),
          lit(" --><h1>Doc "), col("doc_id"), lit("</h1><p>"),
          array_join(slice(col("toks"), 1, 5), " "),
          lit(" <b>"), array_join(slice(col("toks"), 6, 5), " "),
          lit("</b> "),
          array_join(slice(col("toks"), 11, 1000), " "),
          lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; " +
            "&#39;s&#39;&nbsp;and &amp;lt; stays " +
            "&#x27;h&#039; &rsquo;r&#8217; &ndash;n&#x2013; " +
            "&#8212;m&mdash; dots&hellip; &#169;&copy; " +
            "&amp;#60; and &#038;lt; stay</div></body></html>"))
          .as("text"))

  /** Shared by ann_brute_topk and ann_sq8_topk — the SQ8 result
    * channel's claim is rank-for-rank equality against the SAME
    * oracle, so the sameness is structural, not copy-paste.
    */
  private val bruteTopKOracle: String =
    """WITH scores AS (
      |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
      |         list_cosine_similarity(q.embedding, e.embedding) AS score
      |  FROM embeddings e, embeddings q
      |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id)
      |SELECT q_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT q_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM scores)
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Shared by pipeline_decontaminate and its Bloom-pruned variant —
    * both produce the identical exact overlap-pair set.
    */
  /** SQL twin of `Curation.uniformHash(doc_id, seed)` — shared by the
    * weighted-sample, split, and streaming-sample oracles so the
    * formula cannot drift between them (it MUST track the Scala
    * implementation exactly: mod-reduce, one xor-shift mixing round,
    * Knuth multiply, mod, divide — all exact 64-bit integer math in
    * both engines).
    */
  private[queries] def lehmerUSqlFor(seed: Long): String = {
    val m = s"((doc_id + $seed) % 2147483647)"
    s"CAST((xor($m, $m >> 15) * 2654435761) " +
      "% 2147483647 AS DOUBLE) / 2147483647"
  }

  private[queries] val lehmerUSql: String = lehmerUSqlFor(42L)

  /** DuckDB twin of `TextAnalysis.htmlEntityTable`'s decode chain —
    * RENDERED from the same table the Spark side folds over, so a new
    * entity row lands in both engines or neither. DuckDB's
    * regexp_replace needs the explicit 'g' flag (Spark's is global by
    * default); the apostrophe replacement renders as chr(39) so the
    * SQL literal needs no quote escaping. Table order is preserved —
    * the `&amp;` row stays last on both sides (the double-decode
    * guarantee).
    */
  private val htmlDecodeSql: String =
    graft.ops.TextAnalysis.htmlEntityTable.foldLeft("s") {
      case (acc, (pat, rep)) =>
        val repSql = if (rep == "'") "chr(39)" else s"'$rep'"
        s"regexp_replace($acc, '$pat', $repSql, 'g')"
    }

  /** DuckDB twin of `Curation.fplog2Sql` — the fixed-point integer log2
    * the NB-classifier channel hashes on: `to_base(e, 2)` for Spark's
    * `conv(e, 10, 2)`, `//` + `<<` for `div` + `shiftleft`. Argument
    * must be a parenthesized BIGINT expression ≥ 1.
    */
  private def fpDuck(e: String): String =
    s"((length(to_base($e, 2)) - 1) * 8 + ($e) * 8 // " +
      s"(CAST(1 AS BIGINT) << (length(to_base($e, 2)) - 1)) - 8)"

  /** The NB-classifier oracle, shared by the batch, incremental, and
    * streaming channels — identical train/feature/weight SQL, only the
    * final row restriction differs (the retrain-free invariant: indexed
    * and streamed scoring must be bit-identical to the batch classifier
    * restricted to the same docs).
    */
  private def nbQualityOracle(finalWhere: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS toks,
       |         LENGTH(text) AS n_chars,
       |         LEN(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
       |  FROM documents),
       |lab AS (
       |  SELECT doc_id,
       |         (LEN(toks) >= 5 AND n_punct * 10 < n_chars AND
       |          LEN(list_filter(toks, w -> w IN
       |            ('the','a','of','and','to','in','is','it'))) * 50
       |            >= LEN(toks)) AS tgt,
       |         toks
       |  FROM t),
       |bg AS (SELECT doc_id, tgt,
       |              unnest([toks[i] || ' ' || toks[i+1]
       |                      for i in range(1, len(toks))]) AS b
       |       FROM lab),
       |pb AS (SELECT doc_id, tgt,
       |              ('0x' || substring(md5(b), 1, 8))::BIGINT % 256 AS bk,
       |              CAST(COUNT(*) AS BIGINT) AS c
       |       FROM bg GROUP BY 1, 2, 3),
       |st AS (SELECT bk,
       |              CAST(SUM(CASE WHEN doc_id % 10 <> 0 AND tgt
       |                            THEN c ELSE 0 END) AS BIGINT) AS cp,
       |              CAST(SUM(CASE WHEN doc_id % 10 <> 0 AND NOT tgt
       |                            THEN c ELSE 0 END) AS BIGINT) AS cn
       |       FROM pb GROUP BY 1),
       |w AS (SELECT bk, ${fpDuck("(cp + 1)")} - ${fpDuck("(cn + 1)")} AS w
       |      FROM st),
       |km AS (SELECT ${fpDuck("(tp + 256)")} - ${fpDuck("(tn + 256)")} AS k
       |       FROM (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
       |                    CAST(SUM(cn) AS BIGINT) AS tn FROM st)),
       |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |              CAST(SUM(c * COALESCE(w.w, 0)) AS BIGINT) AS raw
       |       FROM pb LEFT JOIN w USING (bk) GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(sc.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
       |       CAST(COALESCE(sc.raw, 0)
       |            - COALESCE(sc.n_bigrams, 0) * km.k AS BIGINT) AS score,
       |       (COALESCE(sc.raw, 0)
       |        - COALESCE(sc.n_bigrams, 0) * km.k) > 0 AS predicted
       |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
       |CROSS JOIN km
       |$finalWhere
       |ORDER BY d.doc_id""".stripMargin

  /** The channels' shared NB label (integer-exact heuristics) and
    * train mask, pinned once so the three channels cannot drift.
    */
  private[graft] def nbLabel: org.apache.spark.sql.Column =
    size(col("toks")) >= 5 &&
      expr("size(regexp_extract_all(text, '[.,!?;:]', 0))") * 10 <
        length(col("text")) &&
      expr("size(filter(toks, w -> w in " +
        "('the','a','of','and','to','in','is','it')))") * 50 >=
        size(col("toks"))

  /** The split oracle's uniform draws from the salted stream (see
    * `Curation.SplitSeedSalt`).
    */
  private val splitUSql: String =
    lehmerUSqlFor(42L ^ graft.ops.Curation.SplitSeedSalt)

  private val decontaminateOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |                               for i in range(1, len(t)-1)])) AS shingle
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
      |        FROM documents)),
      |hits AS (
      |  SELECT train.doc_id AS doc_id, bench.doc_id AS bench_id,
      |         COUNT(*) AS n_shared
      |  FROM (SELECT * FROM sh WHERE doc_id % 10 <> 0) train
      |  JOIN (SELECT * FROM sh WHERE doc_id % 10 = 0) bench USING (shingle)
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
      |SELECT doc_id, bench_id, n_shared FROM hits
      |ORDER BY doc_id, bench_id""".stripMargin

  /** DuckDB twin of `Dedup.simhash`: same md5-derived token hash (two
    * 32-bit hex halves), same per-bit ±1 vote sums, same v>0 sign
    * threshold — generated because it needs 64 vote columns and 64
    * bit-weight terms.
    */
  private val simhashOracle: String = {
    val votes = (0 until 64).map { b =>
      val word = if (b < 32) s"(lo >> $b)" else s"(hi >> ${b - 32})"
      s"SUM((($word & 1) * 2 - 1)) AS v$b"
    }.mkString(",\n         ")
    val bits = (0 until 64).map { b =>
      val weight =
        if (b == 63) "(-9223372036854775808)::BIGINT"
        else s"(${1L << b}::BIGINT)"
      s"CASE WHEN v$b > 0 THEN $weight ELSE 0::BIGINT END"
    }.mkString("\n        + ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(regexp_extract_all(lower(text), '\\w+'))) AS tok
       |  FROM documents WHERE doc_id < 50),
       |h AS (
       |  SELECT doc_id,
       |         ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hi,
       |         ('0x' || substring(md5(tok), 9, 8))::BIGINT AS lo
       |  FROM toks),
       |v AS (
       |  SELECT doc_id,
       |         $votes
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id,
       |       ($bits) AS simhash
       |FROM v ORDER BY doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // ── Text analysis ───────────────────────────────────────────────────
    QueryDef(
      "text_tokens",
      (s, d) => TextAnalysis.tokenStats(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some("""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
             |       CAST(LEN(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_words,
             |       CAST(LEN(list_distinct(regexp_extract_all(lower(text), '\w+'))) AS BIGINT) AS n_distinct_words,
             |       CAST(LEN(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "text_quality",
      (s, d) => TextAnalysis.quality(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, LENGTH(text) AS n_chars,
             |         regexp_extract_all(lower(text), '\w+') AS toks,
             |         LEN(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
             |  FROM documents)
             |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
             |       CAST(LEN(toks) AS BIGINT) AS n_words,
             |       ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE) / LEN(toks), 4) AS avg_word_len,
             |       ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
             |       ROUND(CAST(LEN(list_filter(toks, w -> w IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE) / LEN(toks), 6) AS stopword_ratio,
             |       (LEN(toks) >= 5 AND CAST(n_punct AS DOUBLE) / n_chars < 0.1) AS quality_ok
             |FROM t ORDER BY doc_id""".stripMargin)),

    QueryDef(
      "text_langid",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('the','and','of','to','a'))) AS s_en,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('el','los','que','y','es'))) AS s_es,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('der','die','und','das','ist'))) AS s_de,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('le','les','et','des','une'))) AS s_fr
             |  FROM documents)
             |SELECT doc_id,
             |       CASE WHEN s_en >= GREATEST(s_es, s_de, s_fr) THEN 'en'
             |            WHEN s_es >= GREATEST(s_de, s_fr) THEN 'es'
             |            WHEN s_de >= s_fr THEN 'de'
             |            ELSE 'fr' END AS lang_guess,
             |       CAST(s_en + s_es + s_de + s_fr AS BIGINT) AS n_votes
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Classifier EVALUATION against gold labels — the confusion matrix
    // a pipeline publishes for any heuristic before trusting it as a
    // filter: per (gold lang, predicted lang) doc counts over the
    // labeled corpus. Both engines compute the identical vote
    // heuristic, so the matrix hash-checks; off-diagonal rows quantify
    // the heuristic's real error surface instead of hiding it.
    QueryDef(
      "text_langid_eval",
      (s, d) => TextAnalysis.langId(Tables.documents(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("lang")),
          "doc_id")
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang"), col("lang_guess")),
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('the','and','of','to','a'))) AS s_en,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('el','los','que','y','es'))) AS s_es,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('der','die','und','das','ist'))) AS s_de,
             |         LEN(list_filter(regexp_extract_all(lower(text), '\w+'), w -> w IN ('le','les','et','des','une'))) AS s_fr
             |  FROM documents),
             |p AS (
             |  SELECT lang,
             |         CASE WHEN s_en >= GREATEST(s_es, s_de, s_fr) THEN 'en'
             |              WHEN s_es >= GREATEST(s_de, s_fr) THEN 'es'
             |              WHEN s_de >= s_fr THEN 'de'
             |              ELSE 'fr' END AS lang_guess
             |  FROM t)
             |SELECT lang, lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM p GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin)),

    QueryDef(
      "text_fingerprint",
      (s, d) => TextAnalysis.fingerprint(Tables.documents(s, d)).orderBy(col("doc_id")),
      Some("""SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp,
             |       sha256(text) AS sha
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: the synthetic corpus carries no PII, so the query
    // INJECTS deterministic email/IP/phone strings per doc and both
    // engines scrub the identical text — the regexes (RE2-compatible
    // subset) and replacement order are the op's contract, exercised
    // end to end rather than on a no-op corpus.
    QueryDef(
      "text_redact",
      (s, d) =>
        TextAnalysis.redactPii(
          Tables.documents(s, d).select(
            col("doc_id"),
            concat(col("text"),
              lit(" reach user"), col("doc_id"), lit("@example.com or 555-010-"),
              format_string("%04d", (col("doc_id") % 10000).cast("int")),
              lit(" from 10.0."), (col("doc_id") % 256), lit(".7")).as("text")))
          .orderBy(col("doc_id")),
      Some("""WITH injected AS (
             |  SELECT doc_id,
             |         text || ' reach user' || doc_id || '@example.com or 555-010-' ||
             |         printf('%04d', doc_id % 10000) || ' from 10.0.' || (doc_id % 256) || '.7' AS text
             |  FROM documents),
             |staged AS (
             |  SELECT doc_id, text,
             |         regexp_replace(text,
             |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
             |  FROM injected),
             |staged2 AS (
             |  SELECT *, regexp_replace(after_email,
             |           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS after_ip
             |  FROM staged)
             |SELECT doc_id,
             |       regexp_replace(after_ip, '\+?\d{3}[- ]\d{3}[- ]\d{4}', '<PHONE>', 'g') AS redacted,
             |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
             |       CAST(len(regexp_extract_all(after_email, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
             |       CAST(len(regexp_extract_all(after_ip, '\+?\d{3}[- ]\d{3}[- ]\d{4}')) AS BIGINT) AS n_phones
             |FROM staged2 ORDER BY doc_id""".stripMargin)),

    // Unicode + whitespace normalization through the native graft_nfc
    // expression (text_redact's injection pattern): every third doc
    // gets a decomposed e+COMBINING-ACUTE, a control char, and a
    // doubled space appended, so the NFC compose (e+U+0301 → é), the
    // control strip, and the squash all provably fire — DuckDB's
    // nfc_normalize replays the composition and both engines emit the
    // identical composed string and char counts.
    QueryDef(
      "text_normalize",
      (s, d) =>
        TextAnalysis.normalizeText(
          Tables.documents(s, d).select(
            col("doc_id"),
            when(col("doc_id") % 3 === 0,
              // decomposed on purpose: two spaces, 'x', 'e', U+0001,
              // COMBINING ACUTE (the bytes the oracle builds with
              // chr()) - the control sits BETWEEN base and mark, so
              // only the strip-BEFORE-NFC order composes it; the
              // reversed order leaves e+mark uncomposed and goes red
              concat(col("text"), lit("  xe́")))
              .otherwise(col("text")).as("text")))
          .orderBy(col("doc_id")),
      Some("""WITH aug AS (
             |  SELECT doc_id,
             |         CASE WHEN doc_id % 3 = 0
             |              THEN text || '  xe' || chr(1) || chr(769)
             |              ELSE text END AS t
             |  FROM documents),
             |n AS (
             |  SELECT doc_id, t,
             |         trim(regexp_replace(
             |           nfc_normalize(regexp_replace(t,
             |             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')),
             |           '[ \t\n\r]+', ' ', 'g')) AS norm_text
             |  FROM aug)
             |SELECT doc_id, norm_text,
             |       CAST(length(t) AS INT) AS n_chars_raw,
             |       CAST(length(norm_text) AS INT) AS n_chars_norm
             |FROM n ORDER BY doc_id""".stripMargin)),

    // WHY normalizeText sits before content-addressed dedup: clone
    // 20000+id carries the SAME text as id in a different encoding
    // provenance (composed " é" vs doubled-space + decomposed
    // e+COMBINING-ACUTE + trailing space) — raw sha256 sees two
    // distinct documents FOREVER (n_raw_variants = 2), while grouping
    // on the normalized text pairs every clone with its original
    // (n_copies = 2). The oracle replays the full normalize pipeline
    // in SQL, so a normalization drift on either transform breaks the
    // pairing and the hash.
    QueryDef(
      "dedup_normalized",
      (s, d) => {
        val base = Tables.documents(s, d).filter(col("doc_id") < 50)
          .select(col("doc_id"), col("text"))
        val aug = base.select(col("doc_id"),
            concat(col("text"), lit(" é")).as("text"))
          .unionByName(base.select((col("doc_id") + 20000).as("doc_id"),
            concat(col("text"), lit("  é ")).as("text")))
        TextAnalysis.normalizeText(aug)
          .join(aug, "doc_id")
          .groupBy(col("norm_text"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("n_copies"),
            countDistinct(sha2(col("text"), 256)).as("n_raw_variants"))
          .select(col("doc_id"), col("n_copies"), col("n_raw_variants"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, text || ' ' || chr(233) AS text
             |  FROM documents WHERE doc_id < 50
             |  UNION ALL
             |  SELECT doc_id + 20000, text || '  e' || chr(769) || ' '
             |  FROM documents WHERE doc_id < 50),
             |norm AS (
             |  SELECT doc_id, text,
             |         trim(regexp_replace(
             |           nfc_normalize(regexp_replace(text,
             |             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')),
             |           '[ \t\n\r]+', ' ', 'g')) AS norm_text
             |  FROM aug)
             |SELECT MIN(doc_id) AS doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_copies,
             |       CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_raw_variants
             |FROM norm GROUP BY norm_text ORDER BY doc_id""".stripMargin)),

    // Within-doc repetition signals (Gopher-style quality heuristics):
    // Bigram-fluency quality score — the deterministic KenLM-filter
    // analog: per doc, the mean corpus conditional relative frequency
    // C(w1 w2)/C(w1 ·) over its bigram instances. Linear (not log) so
    // every term is one IEEE division of exact Longs; the mean routes
    // through DECIMAL(28,8) (the bm25 discipline) and hash-checks.
    QueryDef(
      "text_bigram_fluency",
      (s, d) => TextAnalysis.bigramFluency(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |bg AS (SELECT doc_id,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
             |cp AS (SELECT split_part(b, ' ', 1) AS w1,
             |              CAST(COUNT(*) AS BIGINT) AS cp
             |       FROM bg GROUP BY 1),
             |r AS (SELECT doc_id, CAST(cb.cb AS DOUBLE) / cp.cp AS r
             |      FROM bg JOIN cb USING (b)
             |      JOIN cp ON split_part(bg.b, ' ', 1) = cp.w1)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |       ROUND(CAST(SUM(CAST(r AS DECIMAL(28,8))) AS DOUBLE)
             |             / COUNT(*), 6) AS fluency
             |FROM r GROUP BY 1 ORDER BY doc_id""".stripMargin)),

    // distinct-word ratio + most-frequent word/bigram mass. Every ratio
    // is one int/int division rounded to 6 places, so the whole row set
    // hash-checks.
    QueryDef(
      "text_repetition",
      (s, d) => TextAnalysis.repetition(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, unnest(toks) AS w FROM t),
             |wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2),
             |ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
             |              CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |              CAST(MAX(c) AS BIGINT) AS top_w
             |       FROM wc GROUP BY 1),
             |bg AS (SELECT doc_id,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
             |bs AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_b
             |       FROM bc GROUP BY 1)
             |SELECT ws.doc_id, ws.n_words,
             |       ROUND(CAST(n_distinct AS DOUBLE) / n_words, 6) AS distinct_word_ratio,
             |       ROUND(CAST(top_w AS DOUBLE) / n_words, 6) AS top_word_ratio,
             |       COALESCE(ROUND(CAST(top_b AS DOUBLE) / n_bigrams, 6), 0.0) AS top_bigram_ratio
             |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id
             |ORDER BY ws.doc_id""".stripMargin)),

    // Token-rarity profile: per-doc mean/min corpus document-frequency
    // over distinct tokens — integer counts + one division, hash-exact.
    QueryDef(
      "text_token_rarity",
      (s, d) => TextAnalysis.tokenRarity(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH dw AS (
             |  SELECT doc_id,
             |         unnest(list_distinct(regexp_extract_all(lower(text), '\w+'))) AS w
             |  FROM documents),
             |tdf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY 1)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             |       CAST(MIN(df) AS BIGINT) AS min_df,
             |       ROUND(CAST(SUM(df) AS DOUBLE) / COUNT(*), 4) AS avg_df
             |FROM dw JOIN tdf USING (w)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Distributed BPE merge induction — 3 rounds of "count adjacent
    // pair frequencies corpus-wide, merge the winner everywhere" (the
    // tokenizer-training pass). The learned merge TABLE hash-checks:
    // tie-breaks are (freq desc, lhs, rhs) and merge application is
    // leftmost-non-overlapping replace over the bracket-wrapped
    // symbol encoding in BOTH engines.
    QueryDef(
      "text_bpe_merges",
      // the batched trainer (provably sequential-equal — see its
      // Scaladoc + the agreement spec) against the STRICTLY SEQUENTIAL
      // 3-round chained-CTE oracle below: the oracle doubles as the
      // cross-engine proof that batching preserved the merge chain
      (s, d) => TextAnalysis.bpeMergesBatched(Tables.documents(s, d),
          nMerges = 3)
        .orderBy(col("merge_rank")),
      Some("""WITH s0 AS (
             |  SELECT doc_id,
             |         '<' || array_to_string(regexp_extract_all(lower(text), '\w+'),
             |                                '><') || '>' AS s
             |  FROM documents),
             |p1 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s0))
             |  GROUP BY 1, 2),
             |m1 AS (SELECT l, r, freq FROM p1 ORDER BY freq DESC, l, r LIMIT 1),
             |s1 AS (
             |  SELECT doc_id,
             |         replace(s, '<' || (SELECT l FROM m1) || '><' ||
             |                    (SELECT r FROM m1) || '>',
             |                 '<' || (SELECT l FROM m1) || '_' ||
             |                 (SELECT r FROM m1) || '>') AS s
             |  FROM s0),
             |p2 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s1))
             |  GROUP BY 1, 2),
             |m2 AS (SELECT l, r, freq FROM p2 ORDER BY freq DESC, l, r LIMIT 1),
             |s2 AS (
             |  SELECT doc_id,
             |         replace(s, '<' || (SELECT l FROM m2) || '><' ||
             |                    (SELECT r FROM m2) || '>',
             |                 '<' || (SELECT l FROM m2) || '_' ||
             |                 (SELECT r FROM m2) || '>') AS s
             |  FROM s1),
             |p3 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s2))
             |  GROUP BY 1, 2),
             |m3 AS (SELECT l, r, freq FROM p3 ORDER BY freq DESC, l, r LIMIT 1)
             |SELECT CAST(1 AS INT) AS merge_rank, l AS lhs, r AS rhs, freq FROM m1
             |UNION ALL
             |SELECT CAST(2 AS INT), l, r, freq FROM m2
             |UNION ALL
             |SELECT CAST(3 AS INT), l, r, freq FROM m3
             |ORDER BY merge_rank""".stripMargin)),

    // Tokenizer APPLICATION: train 3 merges, then ENCODE the whole
    // corpus with the learned table (TextAnalysis.bpeEncode — the
    // rank-ordered replace chain as one scan-speed projection) and
    // report per-doc pre/post token counts. The oracle re-derives the
    // same 3 merges with the sequential chained-CTE and counts tokens
    // in s0 (base) vs s3 (encoded) — so the cross-engine check covers
    // BOTH the induced table and its application to every document.
    QueryDef(
      "text_bpe_encode",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val merges = TextAnalysis.bpeMergesBatched(docs, nMerges = 3)
          .orderBy(col("merge_rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        TextAnalysis.bpeEncode(docs, merges)
          .select(col("doc_id"), col("n_tokens_base"), col("n_tokens_bpe"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH s0 AS (
             |  SELECT doc_id,
             |         '<' || array_to_string(regexp_extract_all(lower(text), '\w+'),
             |                                '><') || '>' AS s
             |  FROM documents),
             |p1 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s0))
             |  GROUP BY 1, 2),
             |m1 AS (SELECT l, r, freq FROM p1 ORDER BY freq DESC, l, r LIMIT 1),
             |s1 AS (
             |  SELECT doc_id,
             |         replace(s, '<' || (SELECT l FROM m1) || '><' ||
             |                    (SELECT r FROM m1) || '>',
             |                 '<' || (SELECT l FROM m1) || '_' ||
             |                 (SELECT r FROM m1) || '>') AS s
             |  FROM s0),
             |p2 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s1))
             |  GROUP BY 1, 2),
             |m2 AS (SELECT l, r, freq FROM p2 ORDER BY freq DESC, l, r LIMIT 1),
             |s2 AS (
             |  SELECT doc_id,
             |         replace(s, '<' || (SELECT l FROM m2) || '><' ||
             |                    (SELECT r FROM m2) || '>',
             |                 '<' || (SELECT l FROM m2) || '_' ||
             |                 (SELECT r FROM m2) || '>') AS s
             |  FROM s1),
             |p3 AS (
             |  SELECT u['l'] AS l, u['r'] AS r, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest([{'l': t[i], 'r': t[i+1]}
             |                       for i in range(1, len(t))]) AS u
             |        FROM (SELECT regexp_extract_all(s, '[^<>]+') AS t FROM s2))
             |  GROUP BY 1, 2),
             |m3 AS (SELECT l, r, freq FROM p3 ORDER BY freq DESC, l, r LIMIT 1),
             |s3 AS (
             |  SELECT doc_id,
             |         replace(s, '<' || (SELECT l FROM m3) || '><' ||
             |                    (SELECT r FROM m3) || '>',
             |                 '<' || (SELECT l FROM m3) || '_' ||
             |                 (SELECT r FROM m3) || '>') AS s
             |  FROM s2)
             |SELECT s0.doc_id,
             |       CAST(LEN(regexp_extract_all(s0.s, '[^<>]+')) AS BIGINT)
             |         AS n_tokens_base,
             |       CAST(LEN(regexp_extract_all(s3.s, '[^<>]+')) AS BIGINT)
             |         AS n_tokens_bpe
             |FROM s0 JOIN s3 ON s0.doc_id = s3.doc_id
             |ORDER BY s0.doc_id""".stripMargin)),

    // Top-k keyword retrieval: rank the corpus for a 3-term query by
    // the tf·idf sum in EXACT integer arithmetic — Σ tf/df
    // cross-multiplies onto the common denominator Π df (document-
    // independent), so score_num = Σ tf·Π_{other} df is pure Long
    // products and both the ranking and the emitted score hash-check
    // (a float idf sum would hinge on accumulation order). 'dup' is
    // the corpus's rare term (df ~25 at sf0.01 vs ~390), so idf
    // weighting visibly reorders the hits. Oracle: same integer
    // algebra, Π df recovered per term via exact integer division.
    // Okapi BM25 — the standard lexical scorer next to the exact-
    // integer tf·idf channel: same one-scan tf machinery, corpus
    // constants folded as literals, per-doc sum through DECIMAL(28,8)
    // then round(5) so the cross-engine float comparison is stable.
    // Emits ALL matching docs (the bounded top-k plan is
    // text_search_topk's claim); the oracle recomputes idf, the
    // length-normalized tf part, and the decimal-summed score.
    QueryDef(
      "text_bm25",
      (s, d) => TextAnalysis.bm25(Tables.documents(s, d),
          Seq("dup", "vector", "join"))
        .orderBy(col("doc_id")),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |         len(regexp_extract_all(lower(text), '\w+')) AS dl,
             |         unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, CAST(dl AS DOUBLE) AS dl, w,
             |         CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM tok WHERE w IN ('dup', 'vector', 'join')
             |  GROUP BY 1, 2, 3),
             |c AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |         AVG(CAST(len(regexp_extract_all(lower(text), '\w+'))
             |             AS DOUBLE)) AS avgdl
             |  FROM documents),
             |d AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
             |SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |       ROUND(CAST(SUM(CAST(
             |         ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
             |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl))
             |         AS DECIMAL(28, 8))) AS DOUBLE), 5) AS bm25
             |FROM tf CROSS JOIN c JOIN d ON d.w = tf.w
             |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin)),

    QueryDef(
      "text_search_topk",
      (s, d) => TextAnalysis.termSearch(Tables.documents(s, d),
        Seq("dup", "vector", "join"), k = 10),
      Some("""WITH wd AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM wd WHERE w IN ('dup', 'vector', 'join')
             |       GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(PRODUCT(df) AS BIGINT) AS prod FROM dfs),
             |sc AS (
             |  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |         SUM(tf.tf * ((SELECT prod FROM tot) // dfs.df)) AS s
             |  FROM tf JOIN dfs USING (w) GROUP BY 1)
             |SELECT doc_id, n_terms_hit, CAST(s AS BIGINT) AS score_num
             |FROM sc ORDER BY score_num DESC, doc_id LIMIT 10""".stripMargin)),

    // PERSISTED lexical index round-trip: one tokenization pass writes
    // term-hash-bucketed postings (Hive partition pruning at search —
    // the ANN index layout applied to text), and the indexed search
    // must return BIT-IDENTICAL results to the direct corpus search:
    // same oracle as text_search_topk. df recomputes from the pruned
    // postings so there is no stats table to maintain.
    QueryDef(
      "text_search_indexed",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-text-idx")
        try {
          TextAnalysis.saveTextIndex(Tables.documents(s, d), dir.toString)
          TextAnalysis.termSearchIndexed(s, dir.toString,
              Seq("dup", "vector", "join"), k = 10)
            .localCheckpoint(true) // materialize before the dir dies
        } finally graft.PlanHygiene.deleteRecursively(dir)
      },
      Some("""WITH wd AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM wd WHERE w IN ('dup', 'vector', 'join')
             |       GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(PRODUCT(df) AS BIGINT) AS prod FROM dfs),
             |sc AS (
             |  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |         SUM(tf.tf * ((SELECT prod FROM tot) // dfs.df)) AS s
             |  FROM tf JOIN dfs USING (w) GROUP BY 1)
             |SELECT doc_id, n_terms_hit, CAST(s AS BIGINT) AS score_num
             |FROM sc ORDER BY score_num DESC, doc_id LIMIT 10""".stripMargin)),

    // Retrain-free text ingest: history indexes once, the daily batch
    // APPENDS its postings (one pass over the increment, zero over
    // history — no stats merge by design), and searching the combined
    // index is identical to a fresh full-corpus search — the
    // ann_incremental contract on the lexical side. Same oracle.
    QueryDef(
      "text_search_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-text-inc")
        try {
          TextAnalysis.saveTextIndex(
            docs.filter(col("doc_id") % 10 =!= 0), dir.toString)
          TextAnalysis.appendToTextIndex(
            docs.filter(col("doc_id") % 10 === 0), dir.toString)
          TextAnalysis.termSearchIndexed(s, dir.toString,
              Seq("dup", "vector", "join"), k = 10)
            .localCheckpoint(true)
        } finally graft.PlanHygiene.deleteRecursively(dir)
      },
      Some("""WITH wd AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM wd WHERE w IN ('dup', 'vector', 'join')
             |       GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |tot AS (SELECT CAST(PRODUCT(df) AS BIGINT) AS prod FROM dfs),
             |sc AS (
             |  SELECT tf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |         SUM(tf.tf * ((SELECT prod FROM tot) // dfs.df)) AS s
             |  FROM tf JOIN dfs USING (w) GROUP BY 1)
             |SELECT doc_id, n_terms_hit, CAST(s AS BIGINT) AS score_num
             |FROM sc ORDER BY score_num DESC, doc_id LIMIT 10""".stripMargin)),

    // BATCH top-k retrieval: three queries ranked in ONE pass with the
    // weights computed relationally (Long-HOF df product per query,
    // exact integer DIV per term) and ranking through the bounded
    // graft_topk heaps — the million-concurrent-queries fan-out shape
    // (a driver-built CASE per query cannot scale past a handful).
    // Oracle: identical algebra per query in DuckDB, ROW_NUMBER as the
    // rank twin of the heap's (score desc, doc_id) order.
    // Batch BM25 — the fan-out twin of text_bm25: relational idf (the
    // in-plan natural log against broadcast df), one corpus scan for
    // the union vocabulary, same DECIMAL(28,8) summing discipline.
    QueryDef(
      "text_bm25_batch",
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (1, Seq("dup", "vector")),
          (2, Seq("join", "data")),
          (3, Seq("dup", "join", "vector"))).toDF("query_id", "terms")
        TextAnalysis.bm25Many(Tables.documents(s, d), qs)
          .orderBy(col("query_id"), col("doc_id"))
      },
      Some("""WITH qs(query_id, w) AS (
             |  VALUES (1,'dup'),(1,'vector'),(2,'join'),(2,'data'),
             |         (3,'dup'),(3,'join'),(3,'vector')),
             |tok AS (
             |  SELECT doc_id,
             |         len(regexp_extract_all(lower(text), '\w+')) AS dl,
             |         unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, CAST(dl AS DOUBLE) AS dl, w,
             |         CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM tok WHERE w IN (SELECT DISTINCT w FROM qs)
             |  GROUP BY 1, 2, 3),
             |c AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |         AVG(CAST(len(regexp_extract_all(lower(text), '\w+'))
             |             AS DOUBLE)) AS avgdl
             |  FROM documents),
             |d AS (SELECT w, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1)
             |SELECT qs.query_id, tf.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             |       ROUND(CAST(SUM(CAST(
             |         ln(1 + (c.n - d.df + 0.5) / (d.df + 0.5)) * tf.tf * (1.2 + 1)
             |           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / c.avgdl))
             |         AS DECIMAL(28, 8))) AS DOUBLE), 5) AS bm25
             |FROM tf JOIN qs USING (w) CROSS JOIN c JOIN d ON d.w = tf.w
             |GROUP BY 1, 2 ORDER BY query_id, doc_id""".stripMargin)),

    QueryDef(
      "text_search_batch",
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (1, Seq("dup", "vector")),
          (2, Seq("join", "data")),
          (3, Seq("dup", "join", "vector"))).toDF("query_id", "terms")
        TextAnalysis.termSearchMany(Tables.documents(s, d), qs, k = 5)
          .orderBy(col("query_id"), col("rank_in_query"))
      },
      Some("""WITH qs(query_id, w) AS (
             |  VALUES (1,'dup'),(1,'vector'),(2,'join'),(2,'data'),
             |         (3,'dup'),(3,'join'),(3,'vector')),
             |wd AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |       FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM wd
             |       WHERE w IN (SELECT DISTINCT w FROM qs) GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |qw AS (SELECT qs.query_id, qs.w,
             |              (SELECT CAST(PRODUCT(d2.df) AS BIGINT)
             |               FROM qs q2 JOIN dfs d2 ON d2.w = q2.w
             |               WHERE q2.query_id = qs.query_id) // dfs.df AS wgt
             |       FROM qs JOIN dfs ON dfs.w = qs.w),
             |sc AS (SELECT qw.query_id, tf.doc_id,
             |              CAST(SUM(tf.tf * qw.wgt) AS BIGINT) AS s
             |       FROM tf JOIN qw ON qw.w = tf.w GROUP BY 1, 2),
             |r AS (SELECT query_id, doc_id, s,
             |             ROW_NUMBER() OVER (PARTITION BY query_id
             |                                ORDER BY s DESC, doc_id) AS rk
             |      FROM sc)
             |SELECT query_id, CAST(rk AS INT) AS rank_in_query, doc_id,
             |       s AS score_num
             |FROM r WHERE rk <= 5 ORDER BY query_id, rank_in_query""".stripMargin)),

    // Retrieval EVAL metrics — the measurement half of the search
    // stack: recall@k, MRR, and fixed-point DCG/IDCG over the ranked
    // top-10 with exact-containment ground truth, all exact integers
    // (the fplog2 ladder replaces log2 identically on both engines).
    // Query 4 carries an out-of-corpus term, so its relevant set is
    // empty and every zero path (no hits, mrr 0, idcg 0) is exercised.
    QueryDef(
      "text_retrieval_metrics",
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (1, Seq("dup", "vector")),
          (2, Seq("join", "data")),
          (3, Seq("dup", "join", "vector")),
          (4, Seq("dup", "zzzznotaword"))).toDF("query_id", "terms")
        TextAnalysis.retrievalMetrics(Tables.documents(s, d), qs, k = 10)
          .orderBy(col("query_id"))
      },
      Some(s"""WITH qs(query_id, w) AS (
             |  VALUES (1,'dup'),(1,'vector'),(2,'join'),(2,'data'),
             |         (3,'dup'),(3,'join'),(3,'vector'),
             |         (4,'dup'),(4,'zzzznotaword')),
             |qar AS (SELECT query_id, CAST(COUNT(DISTINCT w) AS BIGINT) AS arity
             |        FROM qs GROUP BY 1),
             |wd AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS w
             |       FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM wd
             |       WHERE w IN (SELECT DISTINCT w FROM qs) GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |qw AS (SELECT qs.query_id, qs.w,
             |              (SELECT CAST(PRODUCT(d2.df) AS BIGINT)
             |               FROM qs q2 JOIN dfs d2 ON d2.w = q2.w
             |               WHERE q2.query_id = qs.query_id) // dfs.df AS wgt
             |       FROM qs JOIN dfs ON dfs.w = qs.w),
             |sc AS (SELECT qw.query_id, tf.doc_id,
             |              CAST(SUM(tf.tf * qw.wgt) AS BIGINT) AS s
             |       FROM tf JOIN qw ON qw.w = tf.w GROUP BY 1, 2),
             |topk AS (SELECT query_id, doc_id, rk FROM (
             |           SELECT query_id, doc_id,
             |                  ROW_NUMBER() OVER (PARTITION BY query_id
             |                                     ORDER BY s DESC, doc_id) AS rk
             |           FROM sc) WHERE rk <= 10),
             |rel AS (SELECT p.query_id, p.doc_id
             |        FROM (SELECT qs.query_id, t.doc_id, COUNT(*) AS m
             |              FROM (SELECT DISTINCT doc_id, w FROM tf) t
             |              JOIN qs ON qs.w = t.w GROUP BY 1, 2) p
             |        JOIN qar USING (query_id)
             |        WHERE p.m = qar.arity),
             |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
             |         FROM rel GROUP BY 1),
             |h AS (SELECT t.query_id, t.rk FROM topk t
             |      JOIN rel ON rel.query_id = t.query_id
             |             AND rel.doc_id = t.doc_id),
             |m AS (SELECT query_id,
             |             CAST(COUNT(*) AS BIGINT) AS hits_at_k,
             |             CAST(MIN(rk) AS BIGINT) AS first_rank,
             |             CAST(SUM(8000000 // ${fpDuck("(rk + 1)")}) AS BIGINT)
             |               AS dcg_scaled
             |      FROM h GROUP BY 1)
             |SELECT q.query_id,
             |       COALESCE(nrel.n_relevant, 0) AS n_relevant,
             |       COALESCE(m.hits_at_k, 0) AS hits_at_k,
             |       COALESCE(m.first_rank, 0) AS first_rank,
             |       CAST(CASE WHEN m.first_rank IS NULL THEN 0
             |            ELSE 1000000 // m.first_rank END AS BIGINT)
             |         AS mrr_scaled,
             |       COALESCE(m.dcg_scaled, 0) AS dcg_scaled,
             |       CAST(COALESCE(list_sum(
             |         [8000000 // ${fpDuck("(CAST(i AS BIGINT) + 1)")}
             |          for i in range(1, CAST(least(COALESCE(nrel.n_relevant, 0),
             |                                       10) AS INT) + 1)]), 0)
             |         AS BIGINT) AS idcg_scaled
             |FROM (SELECT DISTINCT query_id FROM qs) q
             |LEFT JOIN nrel USING (query_id) LEFT JOIN m USING (query_id)
             |ORDER BY q.query_id""".stripMargin)),

    // GRADED-relevance retrieval metrics (r15 verdict stretch #8): same
    // query panel, ground truth widened from exact containment to
    // integer term-overlap grades (1..arity), so queries whose ranking
    // interleaves partial matches get nDCG < 1 — query 3's three terms
    // make partial grades common, query 4's out-of-corpus term still
    // leaves grade-1 docs (the binary op saw NOTHING relevant there;
    // the graded op discriminates).
    QueryDef(
      "text_retrieval_graded",
      (s, d) => {
        import s.implicits._
        val qs = Seq(
          (1, Seq("dup", "vector")),
          (2, Seq("join", "data")),
          (3, Seq("dup", "join", "vector")),
          (4, Seq("dup", "zzzznotaword"))).toDF("query_id", "terms")
        TextAnalysis.retrievalMetricsGraded(Tables.documents(s, d), qs,
            k = 10)
          .orderBy(col("query_id"))
      },
      Some(s"""WITH qs(query_id, w) AS (
             |  VALUES (1,'dup'),(1,'vector'),(2,'join'),(2,'data'),
             |         (3,'dup'),(3,'join'),(3,'vector'),
             |         (4,'dup'),(4,'zzzznotaword')),
             |wd AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\w+')) AS w
             |       FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf FROM wd
             |       WHERE w IN (SELECT DISTINCT w FROM qs) GROUP BY 1, 2),
             |dfs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |qw AS (SELECT qs.query_id, qs.w,
             |              (SELECT CAST(PRODUCT(d2.df) AS BIGINT)
             |               FROM qs q2 JOIN dfs d2 ON d2.w = q2.w
             |               WHERE q2.query_id = qs.query_id) // dfs.df AS wgt
             |       FROM qs JOIN dfs ON dfs.w = qs.w),
             |sc AS (SELECT qw.query_id, tf.doc_id,
             |              CAST(SUM(tf.tf * qw.wgt) AS BIGINT) AS s
             |       FROM tf JOIN qw ON qw.w = tf.w GROUP BY 1, 2),
             |topk AS (SELECT query_id, doc_id, rk FROM (
             |           SELECT query_id, doc_id,
             |                  ROW_NUMBER() OVER (PARTITION BY query_id
             |                                     ORDER BY s DESC, doc_id) AS rk
             |           FROM sc) WHERE rk <= 10),
             |rel AS (SELECT qs.query_id, t.doc_id,
             |               CAST(COUNT(*) AS BIGINT) AS grade
             |        FROM (SELECT DISTINCT doc_id, w FROM tf) t
             |        JOIN qs ON qs.w = t.w GROUP BY 1, 2),
             |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_relevant
             |         FROM rel GROUP BY 1),
             |h AS (SELECT t.query_id, t.rk, rel.grade FROM topk t
             |      JOIN rel ON rel.query_id = t.query_id
             |             AND rel.doc_id = t.doc_id),
             |m AS (SELECT query_id,
             |             CAST(COUNT(*) AS BIGINT) AS hits_at_k,
             |             CAST(MIN(rk) AS BIGINT) AS first_rank,
             |             CAST(SUM(grade * (8000000 // ${fpDuck("(rk + 1)")})) AS BIGINT)
             |               AS dcg_scaled
             |      FROM h GROUP BY 1),
             |idl AS (SELECT query_id, grade,
             |               ROW_NUMBER() OVER (PARTITION BY query_id
             |                                  ORDER BY grade DESC, doc_id) AS irk
             |        FROM rel),
             |idcg AS (SELECT query_id,
             |                CAST(SUM(grade * (8000000 // ${fpDuck("(irk + 1)")})) AS BIGINT)
             |                  AS idcg_scaled
             |         FROM idl WHERE irk <= 10 GROUP BY 1)
             |SELECT q.query_id,
             |       COALESCE(nrel.n_relevant, 0) AS n_relevant,
             |       COALESCE(m.hits_at_k, 0) AS hits_at_k,
             |       COALESCE(m.first_rank, 0) AS first_rank,
             |       CAST(CASE WHEN m.first_rank IS NULL THEN 0
             |            ELSE 1000000 // m.first_rank END AS BIGINT)
             |         AS mrr_scaled,
             |       COALESCE(m.dcg_scaled, 0) AS dcg_scaled,
             |       COALESCE(idcg.idcg_scaled, 0) AS idcg_scaled
             |FROM (SELECT DISTINCT query_id FROM qs) q
             |LEFT JOIN nrel USING (query_id) LEFT JOIN m USING (query_id)
             |LEFT JOIN idcg USING (query_id)
             |ORDER BY q.query_id""".stripMargin)),

    // Per-doc top-3 characteristic terms by TF-IDF (linear idf: score =
    // tf·N/df — exact integers through ONE IEEE division, so ranking and
    // value are bit-identical in both engines; ln damping would hinge
    // on cross-engine ln rounding). Rank on the unrounded score, term
    // string as tiebreak; emit rounded.
    QueryDef(
      "text_tfidf",
      (s, d) => TextAnalysis.tfidf(Tables.documents(s, d), k = 3)
        .orderBy(col("doc_id"), col("rk")),
      Some("""WITH wd AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\w+')) AS w
             |  FROM documents),
             |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM wd GROUP BY 1, 2),
             |tdf AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             |        FROM wd GROUP BY 1),
             |s AS (SELECT doc_id, w, tf, df,
             |             CAST(tf AS DOUBLE) *
             |               (SELECT COUNT(*) FROM documents) / df AS score
             |      FROM tf JOIN tdf USING (w)),
             |r AS (SELECT *, ROW_NUMBER() OVER
             |               (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
             |      FROM s)
             |SELECT doc_id, w, tf, df, ROUND(score, 4) AS tfidf,
             |       CAST(rk AS INTEGER) AS rk
             |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // JSONL export round-trip: write the documents slice as JSON Lines
    // (the interchange format training pipelines actually ship), read
    // it back schema-pinned (no inference scan), and hash-compare
    // against the source — export fidelity IS the correctness claim.
    // Same eager-materialize-then-cleanup lifecycle as fs_save_load so
    // bench reps never leak export directories.
    QueryDef(
      "pipeline_export_jsonl",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-jsonl")
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
          .write.mode("overwrite").json(dir.toString)
        val back = s.read
          .schema("doc_id LONG, lang STRING, text STRING")
          .json(dir.toString)
          .orderBy(col("doc_id"))
          .localCheckpoint(true)
        graft.PlanHygiene.deleteRecursively(dir)
        back
      },
      Some("SELECT doc_id, lang, text FROM documents ORDER BY doc_id")),

    // Hive-partitioned train-set write path: documents land as
    // lang=<x>/ parquet partitions (the layout a training job's data
    // loader prunes by), read back through partition discovery, and
    // per-partition counts — plus the on-disk partition-directory
    // count riding every row — hash-check. Same eager-materialize-
    // then-cleanup lifecycle as pipeline_export_jsonl, so bench reps
    // never leak output directories.
    QueryDef(
      "pipeline_write_partitioned",
      (s, d) => {
        val dir = java.nio.file.Files.createTempDirectory("graft-part")
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source"), col("text"))
          .write.mode("overwrite").partitionBy("lang").parquet(dir.toString)
        val nPartDirs = {
          val ls = java.nio.file.Files.list(dir)
          try {
            import scala.jdk.CollectionConverters._
            ls.iterator().asScala
              .count(_.getFileName.toString.startsWith("lang="))
          } finally ls.close()
        }
        val back = s.read.parquet(dir.toString)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("n_chars"))
          .withColumn("n_partitions", lit(nPartDirs))
          .orderBy(col("lang"))
          .localCheckpoint(true)
        graft.PlanHygiene.deleteRecursively(dir)
        back
      },
      Some("""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
             |       CAST((SELECT COUNT(DISTINCT lang) FROM documents) AS INT)
             |         AS n_partitions
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // Z-order (Morton) layout key — multi-dimensional clustering for
    // the write path: interleave a length bucket with a language code
    // so a range-partitioned/partitionBy layout carries tight file
    // envelopes in BOTH dimensions (single-column sort scatters the
    // second). The key is pure unrolled integer arithmetic (codegen'd,
    // no UDF); DuckDB recomputes all 16 interleave terms bit for bit.
    // The layout's actual directory-pruning property (a predicate on
    // EITHER dimension reads a strict subset of partitions via
    // zCellsFor's curve decomposition) is pinned by spec with real
    // scan metrics — a hash oracle can't see file layout.
    QueryDef(
      "pipeline_zorder_key",
      (s, d) =>
        Tables.documents(s, d)
          .withColumn("a", expr(
            "least(CAST(n_chars DIV 64 AS INT), 255)"))
          .withColumn("b", expr(
            "CAST((ascii(substring(lang, 1, 1)) * 31 + " +
              "ascii(substring(lang, 2, 1))) % 256 AS INT)"))
          .select(col("doc_id"),
            graft.ops.Curation.zOrderKey(col("a"), col("b"), bits = 8)
              .as("zkey"))
          .orderBy(col("doc_id")),
      Some("""WITH k AS (
             |  SELECT doc_id,
             |         LEAST(CAST(n_chars // 64 AS INT), 255) AS a,
             |         CAST((ascii(substring(lang, 1, 1)) * 31 +
             |               ascii(substring(lang, 2, 1))) % 256 AS INT) AS b
             |  FROM documents)
             |SELECT doc_id, CAST(
             |  (((a >> 0) & 1) << 0) + (((b >> 0) & 1) << 1) +
             |  (((a >> 1) & 1) << 2) + (((b >> 1) & 1) << 3) +
             |  (((a >> 2) & 1) << 4) + (((b >> 2) & 1) << 5) +
             |  (((a >> 3) & 1) << 6) + (((b >> 3) & 1) << 7) +
             |  (((a >> 4) & 1) << 8) + (((b >> 4) & 1) << 9) +
             |  (((a >> 5) & 1) << 10) + (((b >> 5) & 1) << 11) +
             |  (((a >> 6) & 1) << 12) + (((b >> 6) & 1) << 13) +
             |  (((a >> 7) & 1) << 14) + (((b >> 7) & 1) << 15)
             |  AS BIGINT) AS zkey
             |FROM k ORDER BY doc_id""".stripMargin)),

    // Curriculum shard manifest: deterministic integer-hash shard
    // assignment (the splitmix family — shard recomputes EXACTLY in
    // SQL, no float boundary) + per-shard descending-quality order
    // with doc_id tie-break. Per-shard windows, never a corpus-wide
    // row_number (the single-partition trap at 100 TB). The oracle
    // replays the hash term for term and the window definition.
    QueryDef(
      "pipeline_curriculum",
      (s, d) =>
        Curation.curriculumShards(Tables.documents(s, d),
            col("n_chars"), nShards = 8)
          .orderBy(col("doc_id")),
      Some("""WITH h AS (
             |  SELECT doc_id, n_chars,
             |         ((xor(((doc_id + 1936224846) % 2147483647),
             |               ((doc_id + 1936224846) % 2147483647) >> 15)
             |           * 2654435761) % 2147483647) % 8 AS shard
             |  FROM documents)
             |SELECT doc_id, CAST(shard AS INT) AS shard,
             |       ROW_NUMBER() OVER (PARTITION BY shard
             |                          ORDER BY n_chars DESC, doc_id) AS pos
             |FROM h ORDER BY doc_id""".stripMargin)),

    // Z-order read-path pruning measured from REAL scan metrics inside
    // the correctness gate itself (the PipelineOpsSpec runtime
    // assertion, promoted to a channel): write documents through
    // zOrderLayout partitionBy(z_bucket), read back with zCellsFor's
    // curve cells as the `isin` partition filter plus the exact
    // predicate, and emit each slab's aggregates TOGETHER with
    // (dirs_total, dirs_read) taken from the executed plan's file scan.
    // The oracle recomputes the aggregates from the documents table and
    // hardcodes 4-of-16: a layout that stops pruning (dirs_read 16), a
    // curve decomposition that over-prunes (aggregates short), or a
    // bucket coverage hole (dirs_total < 16) all land as a red hash —
    // and the pruning holds for a predicate on EITHER dimension, the
    // whole point of the curve.
    QueryDef(
      "pipeline_zorder_scan",
      (s, d) => {
        import org.apache.spark.sql.Column
        import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
        import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
        def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
          case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
          case q: QueryStageExec => scans(q.plan)
          case f: FileSourceScanExec => Seq(f)
          case other =>
            other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
        }
        // two independent bounded dims (coprime multiplier decorrelates;
        // doc_id ranges cover [0, 256) in both at every SF)
        val docs = Tables.documents(s, d).select(
          col("doc_id"),
          (col("doc_id") % 256).cast("int").as("a"),
          ((col("doc_id") * 131) % 256).cast("int").as("b"))
        val dir = java.nio.file.Files.createTempDirectory("graft-zscan")
        try {
          Curation.zOrderLayout(docs, col("a"), col("b"), bits = 8,
              bucketBits = 2)
            .write.mode("overwrite").partitionBy("z_bucket")
            .parquet(dir.toString)
          val dirsTotal = {
            val ls = java.nio.file.Files.list(dir)
            try {
              import scala.jdk.CollectionConverters._
              ls.iterator().asScala
                .count(_.getFileName.toString.startsWith("z_bucket="))
            } finally ls.close()
          }
          val back = s.read.parquet(dir.toString)
          def slab(dim: String, cells: Seq[Long], exact: Column) = {
            val q = back.filter(col("z_bucket").isin(cells: _*) && exact)
              .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sd"))
            val r = q.collect()(0) // execute: AQE finalizes, metrics fill
            val scan = scans(q.queryExecution.executedPlan).head
            (dim, r.getLong(0), r.getLong(1), dirsTotal,
              scan.metrics("numPartitions").value.toInt)
          }
          import s.implicits._
          Seq(
            slab("a", Curation.zCellsFor(0, 63, 0, 255), col("a") <= 63),
            slab("b", Curation.zCellsFor(0, 255, 192, 255),
              col("b") >= 192))
            .toDF("dim", "n_match", "sum_docs", "dirs_total", "dirs_read")
            .orderBy(col("dim"))
        } finally {
          graft.PlanHygiene.deleteRecursively(dir)
        }
      },
      Some("""SELECT 'a' AS dim, CAST(count(*) AS BIGINT) AS n_match,
             |       CAST(sum(doc_id) AS BIGINT) AS sum_docs,
             |       16 AS dirs_total, 4 AS dirs_read
             |FROM documents WHERE doc_id % 256 <= 63
             |UNION ALL
             |SELECT 'b', CAST(count(*) AS BIGINT),
             |       CAST(sum(doc_id) AS BIGINT), 16, 4
             |FROM documents WHERE (doc_id * 131) % 256 >= 192
             |ORDER BY dim""".stripMargin)),

    // Vocabulary Zipf profile: distinct-term count per document
    // frequency — feeds min-df cutoffs and vocabulary sizing; all
    // integer counts, so the whole curve hash-checks.
    QueryDef(
      "text_vocab_zipf",
      (s, d) => TextAnalysis.vocabZipf(Tables.documents(s, d))
        .orderBy(col("df")),
      Some("""WITH dw AS (
             |  SELECT doc_id,
             |         unnest(list_distinct(regexp_extract_all(lower(text), '\w+'))) AS w
             |  FROM documents),
             |tdf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY 1)
             |SELECT df, CAST(COUNT(*) AS BIGINT) AS n_terms
             |FROM tdf GROUP BY df ORDER BY df""".stripMargin)),

    // Corpus heavy hitters: top-20 3-grams by document frequency (the
    // stop-phrase/template statistics pass). Cutoff ties break by
    // shingle text on both engines, so the emitted set is exact.
    QueryDef(
      "text_top_ngrams",
      (s, d) => TextAnalysis.topNgrams(Tables.documents(s, d), n = 3, k = 20)
        .orderBy(col("df").desc, col("shingle")),
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                               for i in range(1, len(t)-1)])) AS shingle
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents))
             |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
             |FROM sh GROUP BY 1
             |ORDER BY df DESC, shingle LIMIT 20""".stripMargin)),

    // Line-level boilerplate removal (the C4/RefinedWeb cleaning step).
    // The corpus has no line structure, so the query INJECTS it
    // deterministically (same pattern as text_redact): a per-source
    // header every doc of the source shares, a footer on every even
    // doc, and a per-doc unique ref line — both engines clean the
    // identical text, and a spec pins that the strip path actually
    // fires (header/footer stripped, ref line kept) so the gate can
    // never go green on a no-op. minDocs=5 << 25 docs/source at the
    // smallest SF.
    QueryDef(
      "pipeline_line_dedup",
      (s, d) =>
        Dedup.stripBoilerplateLines(
            lineDedupInjected(Tables.documents(s, d)), minDocs = 5)
          .orderBy(col("doc_id")),
      Some("""WITH inj AS (
             |  SELECT doc_id, source,
             |         concat_ws(chr(10),
             |           'promo header ' || source,
             |           text,
             |           CASE WHEN doc_id % 2 = 0 THEN 'subscribe today ' || source END,
             |           'ref code ' || doc_id) AS t
             |  FROM documents),
             |l0 AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM inj),
             |lines AS (
             |  SELECT doc_id, source, CAST(i AS BIGINT) AS pos, ls[CAST(i AS INT)] AS line
             |  FROM l0, UNNEST(range(1, len(ls) + 1)) AS u(i)),
             |boiler AS (
             |  SELECT source, md5(line) AS h FROM lines
             |  GROUP BY 1, 2 HAVING COUNT(DISTINCT doc_id) >= 5),
             |kept AS (
             |  SELECT l.doc_id, l.pos, l.line
             |  FROM lines l LEFT JOIN boiler b
             |    ON l.source = b.source AND md5(l.line) = b.h
             |  WHERE b.h IS NULL),
             |tot AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines FROM l0),
             |cl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             |              string_agg(line, chr(10) ORDER BY pos) AS cleaned
             |       FROM kept GROUP BY 1)
             |SELECT t.doc_id, t.n_lines,
             |       COALESCE(cl.n_kept, CAST(0 AS BIGINT)) AS n_kept,
             |       COALESCE(cl.cleaned, '') AS cleaned
             |FROM tot t LEFT JOIN cl USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ── Deduplication ───────────────────────────────────────────────────
    QueryDef(
      "dedup_exact",
      (s, d) => Dedup.exactStats(Tables.documents(s, d)),
      Some("""SELECT COUNT(*) AS n_docs, COUNT(DISTINCT sha256(text)) AS n_unique
             |FROM documents""".stripMargin)),

    QueryDef(
      "dedup_keep_first",
      (s, d) => Dedup.keepFirst(Tables.documents(s, d)).orderBy(col("sha")),
      Some("""SELECT sha256(text) AS sha, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY sha""".stripMargin)),

    // MinHash-LSH near-dup pairs, exact-Jaccard-verified, against a FULL
    // all-pairs word-3-gram Jaccard oracle. Sound because LSH candidate
    // recall is deterministic (murmur3, no RNG) and the testdata's true
    // near-dups all sit at J >= 0.85 where the (b=8, r=4) S-curve passes
    // with P >= 1 - (1 - 0.85^4)^8 ≈ 0.997 per pair — verified to catch
    // every true pair at sf0.001/0.01/0.1, and the no-pairs-below-0.85
    // assumption is spec-asserted on the testdata itself
    // (PipelineOpsSpec "oracle sound"). The jaccard VALUE hash-matches
    // because both engines divide the same two integers.
    QueryDef(
      "dedup_minhash",
      (s, d) =>
        Dedup.minhashPairs(Tables.documents(s, d), shingleN = 3, b = 8, r = 4,
            threshold = 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b")),
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // Exact n-gram Jaccard via the inverted-index counting join — NO
    // soundness assumption needed, unlike the LSH rows above: overlap
    // counts are exact by construction (bucket pair multiplicities sum
    // to |A∩B|), so the oracle holds at ANY threshold, including 0.35
    // here — inside MinHash's weak-recall band, where the S-curve
    // argument could not certify an LSH channel.
    QueryDef(
      "dedup_ngram_jaccard",
      (s, d) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, d), shingleN = 3,
            threshold = 0.35)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b")),
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.35 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 0.35 ORDER BY id_a, id_b""".stripMargin)),

    // Incremental exact dedup: every-10th doc stands in as the daily
    // increment, the rest as history — each new doc is flagged when its
    // exact content already exists in history (one sha equi-join; the
    // production history side is the persisted hash table).
    QueryDef(
      "dedup_incremental_exact",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Dedup.incrementalExact(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       EXISTS (SELECT 1 FROM documents h
             |               WHERE h.doc_id % 10 <> 0
             |                 AND sha256(h.text) = sha256(e.text)) AS dup_of_history
             |FROM documents e WHERE doc_id % 10 = 0
             |ORDER BY doc_id""".stripMargin)),

    // Incremental MinHash near-dup: candidates only across the
    // increment × history boundary; the oracle is the cross-side
    // all-pairs Jaccard (a subset of dedup_minhash's pair space, so it
    // inherits that row's spec-asserted soundness: no testdata pairs in
    // the LSH weak-recall band).
    QueryDef(
      "dedup_incremental_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Dedup.incrementalMinhash(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0),
            shingleN = 3, b = 8, r = 4, threshold = 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |p AS (
             |  SELECT LEAST(c.ia, c.ib) AS id_a,
             |         GREATEST(c.ia, c.ib) AS id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             |        FROM pf a JOIN pf b ON a.tok = b.tok
             |        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0) c
             |  JOIN srt sa ON sa.doc_id = c.ia
             |  JOIN srt sb ON sb.doc_id = c.ib)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // Persisted-index round-trip: history's MinHash band rows write to
    // parquet ONCE, reload, and the increment joins the LOADED index —
    // the result must be IDENTICAL to dedup_incremental_minhash's
    // direct computation (same oracle), proving the persisted index is
    // lossless: the production "band once, search daily" story
    // end-to-end. Same eager-materialize-then-cleanup lifecycle as
    // fs_save_load so bench reps never leak index directories.
    QueryDef(
      "dedup_index_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        val inc = docs.filter(col("doc_id") % 10 === 0)
        val hist = docs.filter(col("doc_id") % 10 =!= 0)
        val dir = java.nio.file.Files.createTempDirectory("graft-mh-index")
        Dedup.minhashBandRows(hist, shingleN = 3, b = 8, r = 4)
          .write.mode("overwrite").parquet(dir.toString)
        val out = Dedup.incrementalMinhashWithIndex(inc,
            s.read.parquet(dir.toString), hist,
            shingleN = 3, b = 8, r = 4, threshold = 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
          .localCheckpoint(true)
        graft.PlanHygiene.deleteRecursively(dir)
        out
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |p AS (
             |  SELECT LEAST(c.ia, c.ib) AS id_a,
             |         GREATEST(c.ia, c.ib) AS id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             |        FROM pf a JOIN pf b ON a.tok = b.tok
             |        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0) c
             |  JOIN srt sa ON sa.doc_id = c.ia
             |  JOIN srt sb ON sb.doc_id = c.ib)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // Incremental EXACT n-gram Jaccard across the increment × history
    // boundary — the counting join's no-S-curve guarantee at t=0.35
    // for the daily-crawl shape (dedup_incremental_minhash's exact
    // twin, certifiable below LSH's reliable band).
    QueryDef(
      "dedup_incremental_ngram",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Dedup.incrementalNgramJaccard(
            docs.filter(col("doc_id") % 10 === 0),
            docs.filter(col("doc_id") % 10 =!= 0),
            shingleN = 3, threshold = 0.35)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.35 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |p AS (
             |  SELECT LEAST(c.ia, c.ib) AS id_a,
             |         GREATEST(c.ia, c.ib) AS id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
             |        FROM pf a JOIN pf b ON a.tok = b.tok
             |        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0) c
             |  JOIN srt sa ON sa.doc_id = c.ia
             |  JOIN srt sb ON sb.doc_id = c.ib)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 0.35 ORDER BY id_a, id_b""".stripMargin)),

    // Temperature-weighted domain mixing (τ=0.5): per-source sampling
    // weights ∝ sqrt(token mass). sqrt is IEEE-identical in both
    // engines, fixed to DECIMAL(38,6) before the cross-source sum (a
    // double Σ would be partition-order dependent), and the weight is
    // one double/double division.
    QueryDef(
      "pipeline_domain_mix",
      (s, d) => Curation.domainMix(Tables.documents(s, d), col("source"))
        .orderBy(col("source")),
      Some("""WITH per AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(LEN(regexp_extract_all(lower(text), '\w+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |w AS (SELECT *,
             |             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sd
             |      FROM per)
             |SELECT source, n_docs, n_tokens,
             |       ROUND(CAST(sd AS DOUBLE) /
             |             CAST((SELECT SUM(sd) FROM w) AS DOUBLE), 6) AS weight
             |FROM w ORDER BY source""".stripMargin)),

    // Mixture application: the domainMix executor — each source
    // contributes floor(weight × 200) docs in id order; the whole
    // draw is deterministic and SQL-expressible end to end.
    QueryDef(
      "pipeline_apply_mix",
      (s, d) => Curation.applyMix(Tables.documents(s, d), col("source"),
          totalBudget = 200, orderKey = col("doc_id"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id")),
      Some("""WITH per AS (
             |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |         CAST(SUM(LEN(regexp_extract_all(lower(text), '\w+'))) AS BIGINT) AS n_tokens
             |  FROM documents GROUP BY 1),
             |w AS (SELECT *,
             |             CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sd
             |      FROM per),
             |q AS (SELECT source,
             |             CAST(FLOOR(ROUND(CAST(sd AS DOUBLE) /
             |                  CAST((SELECT SUM(sd) FROM w) AS DOUBLE), 6) * 200) AS BIGINT) AS quota
             |      FROM w),
             |r AS (SELECT doc_id, source,
             |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |      FROM documents)
             |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
             |WHERE rn <= quota ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination: every-10th doc stands in as the eval
    // set; training docs sharing >= 3 distinct 3-gram shingles with any
    // bench doc are flagged. The oracle is the JOIN form (shingle rows
    // joined on the shingle, grouped per pair), which is also the
    // operator's own plan shape — linear in shingles, never all-pairs.
    QueryDef(
      "pipeline_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        // maxBenchDf pinned above any possible bench df so the oracle
        // (which has no cap) and the operator agree at EVERY scale
        // factor — the production default (100) would silently bind
        // first on the Spark side at a large-enough sf and read as a
        // red gate; the cap's behavior is spec-pinned instead
        Decontaminate.flagged(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            n = 3, minShared = 3, maxBenchDf = Int.MaxValue)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some(decontaminateOracle)),

    // Bloom-pruned decontamination: same contract and the SAME oracle
    // as pipeline_decontaminate (the Bloom filter has no false
    // negatives and the confirm join removes false positives, so the
    // output is exactly the exact-join's) — what changes is the 100 TB
    // shape: the corpus probes a fixed-size filter map-side and only
    // the matching sliver reaches the shuffle, instead of every corpus
    // shingle riding the bench join.
    QueryDef(
      "pipeline_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Decontaminate.flaggedBloom(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            n = 3, minShared = 3, maxBenchDf = Int.MaxValue)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some(decontaminateOracle)),

    // Verbatim-substring decontamination (the ExactSubstr form against
    // the eval set): same every-10th-doc bench split; (train, bench)
    // pairs sharing a contiguous >= 8-token run are flagged with the
    // MAXIMAL run. The oracle replays the diagonal-islands arithmetic
    // from scratch on raw token lists (all-positions join, no hashing,
    // no cap), so anchor hashing, the df-cap plumbing, the broadcast
    // join and the window algebra are all under test — the asymmetric
    // twin of dedup_substring's oracle. maxBenchPositions is pinned
    // above any possible bench fan-out so the capless oracle agrees at
    // every scale factor; the cap's loud-drop path is spec-pinned
    // (PipelineOpsSpec) instead.
    QueryDef(
      "pipeline_decontaminate_substr",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        Decontaminate.substringFlagged(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            k = 8, minOverlap = 8, maxBenchPositions = Int.MaxValue)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |         unnest(range(1, len(t) - 6)) AS pos,
             |         unnest([list_aggregate(t[i:i+7], 'string_agg', ' ')
             |                 for i in range(1, len(t) - 6)]) AS g
             |  FROM toks WHERE len(t) >= 8),
             |m AS (
             |  SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
             |         a.pos AS pos, b.pos AS bpos
             |  FROM sh a JOIN sh b ON a.g = b.g
             |  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
             |isl AS (
             |  SELECT doc_id, bench_id, pos - bpos AS diag, pos,
             |         pos - ROW_NUMBER() OVER (
             |           PARTITION BY doc_id, bench_id, pos - bpos
             |           ORDER BY pos) AS island
             |  FROM m),
             |runs AS (
             |  SELECT doc_id, bench_id, COUNT(*) + 7 AS ol
             |  FROM isl GROUP BY doc_id, bench_id, diag, island)
             |SELECT doc_id, bench_id, CAST(MAX(ol) AS BIGINT) AS overlap_tokens
             |FROM runs GROUP BY doc_id, bench_id
             |HAVING MAX(ol) >= 8
             |ORDER BY doc_id, bench_id""".stripMargin)),

    // Per-domain document cap: keep the top-20 docs per source by
    // (n_chars DESC, doc_id ASC) through the bounded graft_topk
    // aggregate — map-side ≤cap heaps per domain, no corpus-wide
    // window, skew-immune by construction. The oracle is the window
    // form (row_number per source), which defines the semantics the
    // aggregate must reproduce pair for pair.
    QueryDef(
      "pipeline_domain_cap",
      (s, d) =>
        Curation.domainCap(Tables.documents(s, d), col("source"),
            col("n_chars"), col("doc_id"), cap = 20)
          .select(col("domain"), col("rk"), col("doc_id"),
            col("score").cast("long").as("n_chars"))
          .orderBy(col("domain"), col("rk")),
      Some("""SELECT source AS domain, CAST(rk AS INTEGER) AS rk, doc_id, n_chars
             |FROM (SELECT source, doc_id, n_chars,
             |             ROW_NUMBER() OVER (PARTITION BY source
             |                                ORDER BY n_chars DESC, doc_id) AS rk
             |      FROM documents)
             |WHERE rk <= 20
             |ORDER BY domain, rk""".stripMargin)),

    // Near-dup CLUSTERS, not just pairs: connected components over the
    // LSH-verified pair set (label = min reachable doc id, iterative
    // min-label propagation); the oracle closes over all-pairs Jaccard
    // edges with a recursive CTE. INHERITS dedup_minhash's soundness
    // assumption (no testdata pairs in the weak-recall band, spec-
    // asserted) — and amplifies it: one missed bridge edge would relabel
    // a whole cluster, not one row. Oracle cost note: this repeats the
    // O(n^2) Jaccard CTE, the slowest piece of the local sf0.1 compare
    // (the driver's gate runs DuckDB at sf0.01, where it is cheap).
    QueryDef(
      "dedup_components",
      (s, d) =>
        Dedup.components(
            Dedup.minhashPairs(Tables.documents(s, d), shingleN = 3,
              b = 8, r = 4, threshold = 0.5))
          .orderBy(col("doc_id")),
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.5),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)
             |SELECT id AS doc_id, MIN(r) AS component
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Near-dup cluster-SIZE distribution including the singleton row —
    // the shape report next to dedup_source_rates: histogram masses sum
    // to the corpus. Inherits dedup_components' soundness assumption.
    QueryDef(
      "dedup_cluster_sizes",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.clusterSizes(docs,
            Dedup.minhashPairs(docs, shingleN = 3, b = 8, r = 4,
              threshold = 0.5))
          .orderBy(col("cluster_size"))
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.5),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
             |cs AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY 1),
             |hist AS (SELECT CAST(sz AS BIGINT) AS cluster_size,
             |                CAST(COUNT(*) AS BIGINT) AS n_clusters
             |         FROM cs GROUP BY 1)
             |SELECT * FROM hist
             |UNION ALL
             |SELECT CAST(1 AS BIGINT) AS cluster_size,
             |       CAST((SELECT COUNT(*) FROM documents)
             |            - (SELECT COUNT(*) FROM comp) AS BIGINT) AS n_clusters
             |ORDER BY cluster_size""".stripMargin)),

    // Canonical selection within near-dup clusters — the production
    // keep rule: one survivor per component, the LONGEST member
    // (score = n_chars; ties to min doc_id), singletons surviving as
    // themselves. Composes the LSH pair set + pointer-jumping
    // components + one sliver-sized argmax; the corpus itself never
    // groups or shuffles (labels broadcast). Oracle re-derives the
    // clusters with the recursive CTE and picks the same winner with
    // an explicit max+min tie-break (no arg_max nondeterminism), so a
    // wrong cluster, wrong winner, or lost singleton is a red hash.
    QueryDef(
      "dedup_keep_best",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.keepBest(docs,
            Dedup.minhashPairs(docs, shingleN = 3, b = 8, r = 4,
              threshold = 0.5),
            col("n_chars"))
          .orderBy(col("component"))
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.5),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
             |mem AS (
             |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             |         CAST(d.n_chars AS BIGINT) AS score
             |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
             |best AS (SELECT component, MAX(score) AS score FROM mem GROUP BY 1),
             |sel AS (
             |  SELECT m.component, MIN(m.doc_id) AS doc_id, b.score
             |  FROM mem m JOIN best b
             |    ON m.component = b.component AND m.score = b.score
             |  GROUP BY m.component, b.score),
             |cnt AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
             |        FROM mem GROUP BY 1)
             |SELECT s.component, s.doc_id, s.score, c.n_members
             |FROM sel s JOIN cnt c USING (component)
             |ORDER BY s.component""".stripMargin)),

    // Incremental canonical selection: history survivors + a new batch
    // (doc_id % 10 == 0) + the new/bridging pair sliver absorb WITHOUT
    // recomputing untouched clusters — untouched survivor rows pass
    // through, only affected components re-argmax, unpaired new docs
    // enter as singletons. The oracle is the SAME full-recompute SQL
    // as dedup_keep_best, so the incremental path must be bit-identical
    // to rerunning everything — a stale survivor, a missed merged
    // cluster, or a lost singleton is a red hash.
    QueryDef(
      "dedup_keep_best_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val isNew = (c: org.apache.spark.sql.Column) => c % 10 === 0
        val hist = docs.filter(!isNew(col("doc_id")))
        val inc = docs.filter(isNew(col("doc_id")))
        val allPairs = Dedup.minhashPairs(docs, shingleN = 3, b = 8,
          r = 4, threshold = 0.5).localCheckpoint(true)
        val histPairs = allPairs.filter(
          !isNew(col("id_a")) && !isNew(col("id_b")))
        val newPairs = allPairs.filter(
          isNew(col("id_a")) || isNew(col("id_b")))
        Dedup.keepBestIncremental(
            Dedup.keepBest(hist, histPairs, col("n_chars")),
            docs, histPairs, inc.select(col("doc_id")), newPairs,
            col("n_chars"))
          .orderBy(col("component"))
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.5),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
             |mem AS (
             |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
             |         CAST(d.n_chars AS BIGINT) AS score
             |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
             |best AS (SELECT component, MAX(score) AS score FROM mem GROUP BY 1),
             |sel AS (
             |  SELECT m.component, MIN(m.doc_id) AS doc_id, b.score
             |  FROM mem m JOIN best b
             |    ON m.component = b.component AND m.score = b.score
             |  GROUP BY m.component, b.score),
             |cnt AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_members
             |        FROM mem GROUP BY 1)
             |SELECT s.component, s.doc_id, s.score, c.n_members
             |FROM sel s JOIN cnt c USING (component)
             |ORDER BY s.component""".stripMargin)),

    // Prefix-containment dedup over a cloned-truncation corpus (the
    // dedup_simhash_pairs injection pattern): docs < 100 are doubled
    // with id+20000 clones truncated to their first max(3n DIV 5, 8)
    // tokens — every (clone, original) pair must traverse the full
    // bucket/cap/verify path on both engines; the oracle is all-pairs
    // containment over the same doubled corpus, so natural pairs (if a
    // regenerated corpus ever has them) stay covered too.
    QueryDef(
      "dedup_prefix_contained",
      (s, d) => {
        val base = Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id"), col("text"))
        val toks = expr("regexp_extract_all(lower(text), '\\\\w+', 0)")
        val clones = base.select(
          (col("doc_id") + 20000).as("doc_id"),
          array_join(
            slice(toks, lit(1),
              expr("greatest((size(regexp_extract_all(lower(text), '\\\\w+', 0)) * 3) div 5, 8)")),
            " ").as("text"))
        Dedup.prefixContained(base.unionByName(clones), minPrefix = 8)
          .orderBy(col("id_short"), col("id_long"))
      },
      Some("""WITH d2 AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents WHERE doc_id < 100
             |  UNION ALL
             |  SELECT doc_id + 20000,
             |         t[1:greatest((len(t) * 3) // 5, 8)]
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents WHERE doc_id < 100)),
             |p AS (
             |  SELECT a.doc_id AS id_short, b.doc_id AS id_long,
             |         CAST(len(a.toks) AS BIGINT) AS n_short
             |  FROM d2 a, d2 b
             |  WHERE len(a.toks) >= 8 AND len(a.toks) < len(b.toks)
             |    AND a.toks = b.toks[1:len(a.toks)])
             |SELECT id_short, id_long, n_short FROM p
             |ORDER BY id_short, id_long""".stripMargin)),

    // Exact-substring overlap dedup (Lee et al. ExactSubstr shape):
    // every cross-doc pair sharing a verbatim ≥8-token run, with the
    // MAXIMAL shared run length. The oracle replays the same
    // diagonal-islands arithmetic from scratch on the raw token lists
    // (all-positions self-join, no hashing, no cap) — an independent
    // formulation, so anchor hashing, bucket capping and the window
    // algebra are all under test. Corpus probe (sf0.01/sf0.1): max
    // anchor bucket is 4, so maxBucket=64 can only fire on degenerate
    // inputs — where it shouts via LshGuard, spec-pinned.
    QueryDef(
      "dedup_substring",
      (s, d) =>
        Dedup.exactSubstringOverlaps(Tables.documents(s, d), k = 8)
          .orderBy(col("id_a"), col("id_b")),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id,
             |         unnest(range(1, len(t) - 6)) AS pos,
             |         unnest([list_aggregate(t[i:i+7], 'string_agg', ' ')
             |                 for i in range(1, len(t) - 6)]) AS g
             |  FROM toks WHERE len(t) >= 8),
             |m AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |         a.pos AS pos_a, b.pos AS pos_b
             |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id),
             |isl AS (
             |  SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
             |         pos_a - ROW_NUMBER() OVER (
             |           PARTITION BY id_a, id_b, pos_a - pos_b
             |           ORDER BY pos_a) AS island
             |  FROM m),
             |runs AS (
             |  SELECT id_a, id_b, COUNT(*) + 7 AS ol
             |  FROM isl GROUP BY id_a, id_b, diag, island)
             |SELECT id_a, id_b, CAST(MAX(ol) AS BIGINT) AS overlap_tokens
             |FROM runs GROUP BY id_a, id_b
             |ORDER BY id_a, id_b""".stripMargin)),

    // Raw 64-bit signatures, oracle-checked BIT FOR BIT: the md5-based
    // token hash (Dedup.simhash scaladoc) lets DuckDB recompute the
    // identical per-token word, per-bit vote sums and sign-threshold
    // assembly — closing the last no-oracle row (r7 item 5). The SQL
    // is generated (64 vote sums + 64 bit terms); bit 63's weight is
    // the signed MIN_LONG literal because 1<<63 overflows DuckDB's
    // checked shift, and summing distinct bit weights equals the OR.
    QueryDef(
      "dedup_simhash",
      (s, d) =>
        Dedup.simhash(Tables.documents(s, d).filter(col("doc_id") < 50))
          .orderBy(col("doc_id")),
      Some(simhashOracle)),

    // SimHash-banded pairs at the J=1.0 point, where simhash banding is
    // PROVABLY complete and therefore fully oracle-checkable: identical
    // shingle sets imply identical distinct-token sets (every token of a
    // >= n-token doc appears in a complete shingle), hence identical
    // signatures, hence Hamming 0 — caught by every band. Testdata has
    // no natural J=1.0 pairs, so the corpus is doubled with an
    // id-shifted clone slice — every clone pair must come back through
    // the full band/bucket/gate/verify path (a missed pair, a broken
    // band hash, or a false extra all go red). The sub-1.0 radius
    // contract (d <= maxHamming) is spec-asserted against brute
    // all-pairs Hamming instead (PipelineOpsSpec); the signatures
    // themselves are oracle-checked bit for bit by dedup_simhash.
    QueryDef(
      "dedup_simhash_pairs",
      (s, d) => {
        val slice = Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
        val doubled = slice.unionByName(
          slice.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        Dedup.simhashPairs(doubled, b = 8, maxHamming = 7,
            shingleN = 3, threshold = 1.0)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d2 AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 200
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200),
             |sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM d2)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(1.0 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 1.0 ORDER BY id_a, id_b""".stripMargin)),

    // The 2-block concatenation keys (blocksPerKey=2: radius b−2=14,
    // past any single-block guarantee) through the same provably-
    // complete J=1.0 oracle channel: every clone pair must traverse the
    // C(16,2)=120-combination key path — a broken combination key, a
    // wrong shift width, or a lost bucket goes red. The wider radius
    // only ADDS candidates; the exact-Jaccard verify prunes them, so
    // the oracle (all J>=1.0 pairs) is identical to the b=8 row.
    QueryDef(
      "dedup_simhash_wide",
      (s, d) => {
        val slice = Tables.documents(s, d).filter(col("doc_id") < 200)
          .select(col("doc_id"), col("text"))
        val doubled = slice.unionByName(
          slice.select((col("doc_id") + 10000).as("doc_id"), col("text")))
        Dedup.simhashPairs(doubled, b = 16, maxHamming = 12,
            shingleN = 3, threshold = 1.0, blocksPerKey = 2)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 4).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d2 AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id < 200
             |  UNION ALL
             |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 200),
             |sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM d2)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(1.0 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b,
             |         CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |         (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s))) AS j
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b)
             |SELECT id_a, id_b, ROUND(j, 4) AS jaccard FROM p
             |WHERE j >= 1.0 ORDER BY id_a, id_b""".stripMargin)),

    // ── RETRIEVAL FUSION: the RAG-indexing composition the pipeline
    //    brief implies, proven end to end as ONE oracle channel —
    //    chunkWithOverlap → passage-level lexical scoring (exact
    //    integer tf over the query vocabulary, doc score = MAX over
    //    its chunks, the standard passage-max) fused with embedding
    //    ANN (bruteTopK here for the exact oracle; the scale path
    //    swaps in ivfpqTopKIndexed compositionally — same (query,
    //    doc, rank) shape) via Reciprocal Rank Fusion. RRF terms are
    //    1/(60+rank): one IEEE division of exact integers per side
    //    and ONE fixed-order addition, so the fused score is
    //    bit-identical cross-engine and the ranking hash-checks.
    //    Scale shape: chunking runs at scan speed (no shuffle), the
    //    query vocabulary broadcasts, the per-chunk tf aggregates
    //    shuffle only matching (query, doc, chunk) rows, the fusion
    //    join touches two ≤20-rows-per-query slivers, and every
    //    window partitions BY QUERY — nothing corpus-wide ever sorts.
    QueryDef(
      "pipeline_retrieval_fusion",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val docs = Tables.documents(s, d)
        val emb = Tables.embeddings(s, d)
        val qterms = Seq((0L, "dup"), (0L, "vector"), (1L, "vector"),
          (1L, "join"), (2L, "dup"), (2L, "join")).toDF("query_id", "w")
        val chunks = Curation.chunkWithOverlap(docs,
          chunkSize = 32, stride = 24)
        val cw = chunks.select(col("doc_id"), col("chunk_idx"),
          explode(expr(
            "regexp_extract_all(chunk_text, '\\\\w+', 0)")).as("w"))
        val docScore = cw.join(broadcast(qterms), "w")
          .groupBy(col("query_id"), col("doc_id"), col("chunk_idx"))
          .agg(count(lit(1)).cast("long").as("s"))
          .groupBy(col("query_id"), col("doc_id"))
          .agg(max(col("s")).as("s"))
        val wLex = Window.partitionBy(col("query_id"))
          .orderBy(col("s").desc, col("doc_id"))
        val lex = docScore.withColumn("r", row_number().over(wLex))
          .filter(col("r") <= 20)
          .select(col("query_id"), col("doc_id"), col("r").as("lex_r"))
        val ann = Similarity.bruteTopK(emb.filter(col("vec_id") < 3),
            emb, k = 20)
          .select(col("q_id").cast("long").as("query_id"),
            col("neighbor_id").cast("long").as("doc_id"),
            col("rank").as("ann_r"))
        val fused = lex.join(ann, Seq("query_id", "doc_id"), "full_outer")
          .select(col("query_id"), col("doc_id"),
            (coalesce(lit(1.0) / (lit(60) + col("lex_r")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("ann_r")), lit(0.0)))
              .as("rrf"))
        val wF = Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))
        fused.withColumn("fused_rank", row_number().over(wF).cast("int"))
          .filter(col("fused_rank") <= 10)
          .select(col("query_id"), col("fused_rank"), col("doc_id"),
            round(col("rrf"), 6).as("rrf"))
          .orderBy(col("query_id"), col("fused_rank"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |ch AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS cidx,
             |         toks[(CAST(i AS INT) * 24 + 1):(CAST(i AS INT) * 24 + 32)] AS ct
             |  FROM t, UNNEST(range(0,
             |    CAST(CEIL(GREATEST(len(toks) - 32, 0) / 24.0) AS BIGINT) + 1)) AS u(i)),
             |q(query_id, w) AS (VALUES (0, 'dup'), (0, 'vector'),
             |  (1, 'vector'), (1, 'join'), (2, 'dup'), (2, 'join')),
             |cw AS (SELECT doc_id, cidx, unnest(ct) AS w FROM ch),
             |ds AS (
             |  SELECT query_id, doc_id, MAX(s) AS s FROM (
             |    SELECT CAST(q.query_id AS BIGINT) AS query_id, doc_id, cidx,
             |           CAST(COUNT(*) AS BIGINT) AS s
             |    FROM cw JOIN q USING (w) GROUP BY 1, 2, 3)
             |  GROUP BY 1, 2),
             |lex AS (
             |  SELECT query_id, doc_id, r FROM (
             |    SELECT query_id, doc_id, ROW_NUMBER() OVER
             |      (PARTITION BY query_id ORDER BY s DESC, doc_id) AS r
             |    FROM ds) WHERE r <= 20),
             |ann AS (
             |  SELECT query_id, doc_id, r FROM (
             |    SELECT CAST(q.vec_id AS BIGINT) AS query_id,
             |           CAST(e.vec_id AS BIGINT) AS doc_id,
             |           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             |             list_cosine_similarity(q.embedding, e.embedding)
             |               DESC, e.vec_id) AS r
             |    FROM embeddings e, embeddings q
             |    WHERE q.vec_id < 3 AND e.vec_id <> q.vec_id)
             |  WHERE r <= 20),
             |fused AS (
             |  SELECT COALESCE(l.query_id, a.query_id) AS query_id,
             |         COALESCE(l.doc_id, a.doc_id) AS doc_id,
             |         COALESCE(1.0 / (60 + l.r), 0) +
             |         COALESCE(1.0 / (60 + a.r), 0) AS rrf
             |  FROM lex l FULL OUTER JOIN ann a
             |    ON l.query_id = a.query_id AND l.doc_id = a.doc_id)
             |SELECT query_id, CAST(rk AS INTEGER) AS fused_rank, doc_id,
             |       ROUND(rrf, 6) AS rrf
             |FROM (SELECT *, ROW_NUMBER() OVER
             |        (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rk
             |      FROM fused)
             |WHERE rk <= 10 ORDER BY query_id, fused_rank""".stripMargin)),

    // ── Similarity search ───────────────────────────────────────────────
    QueryDef(
      "ann_brute_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteTopK(emb.filter(col("vec_id") < 5), emb, k = 5)
          .select(col("q_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(bruteTopKOracle)),

    // IVF scale path: probed-bucket search, gated on recall against the
    // exact twin IN-QUERY — the raw IVF ranking is centroid-dependent
    // (not SQL-reproducible), but "every query recovers >= floor of its
    // true top-k through 4-of-16 probed buckets" is deterministic and
    // oracle-checkable. iters=3 Lloyd rounds raise the tri-SF per-query
    // minimum from 3 to 4 (measured, PLANS.md round-7: iters=1 min is
    // sf0.01 q2 at 3/5; iters 3/4/6 all converge to min 4; farthest-
    // point seeding measured WORSE on this near-uniform corpus and was
    // removed), so floor=4 — a probe/centroid regression drives a row
    // to FALSE and the gate red.
    QueryDef(
      "ann_ivf_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val cents = Similarity.kmeansCentroids(emb, 16, 3)
        Similarity.recall(qs, emb, k = 5, floor = 4,
            Similarity.ivfTopKIndexed(qs, Similarity.assignBuckets(emb, cents),
              cents, nprobe = 4, k = 5))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Embedding dimensionality reduction (PCA 64 -> 16 via the public
    // spark.ml path) gated on NEIGHBOR-STRUCTURE preservation: per
    // query, >=4 of the full-space exact top-5 must survive as the
    // projected space's exact top-5. Both sides are brute searches, so
    // the gate isolates the projection's quality; the boolean shape
    // absorbs eigensolver float variance (the ann_*_recall convention).
    // The corpus is a RANK-12 re-embedding of the real vectors (first
    // 12 components mixed through a fixed deterministic 64-dim basis):
    // the stock synthetic embeddings are near-FULL-rank by construction
    // (measured 37.6% variance captured at k=16, 85.8% at k=48), so no
    // 16-dim projection of them can preserve neighbors — a data
    // property, not an operator property. PCA's contract is "when the
    // data has low intrinsic rank, the projection keeps its geometry";
    // the fixture makes that premise true, the gate checks the promise.
    QueryDef(
      "ann_pca_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"),
          expr("""transform(sequence(0, 63), j ->
            CAST(aggregate(sequence(0, 11), 0.0D, (acc, b) ->
              acc + embedding[b] *
                (CAST((b * 73 + j * 37) % 19 AS DOUBLE) - 9.0D) / 9.0D)
              AS FLOAT))""").as("embedding"))
          // deterministic rank-12 fixture, re-scanned by the PCA fit and
          // both brute searches — materialize once (values unchanged)
          .localCheckpoint(true)
        Similarity.pcaRecall(emb.filter(col("vec_id") < 5), emb,
            dims = 16, k = 5, floor = 4)
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Persisted ANN index round-trip: train centroids, save the IVF
    // layout (centroids + bucket-PARTITIONED corpus parquet — probed
    // searches prune non-probed buckets at the file level), load it
    // back, and assert the loaded search returns the IDENTICAL
    // (q_id, neighbor_id) set as the in-memory path — the ANN sibling
    // of dedup_index_roundtrip: build once, search forever, nothing
    // re-clusters the corpus. Same cleanup lifecycle.
    QueryDef(
      "ann_index_roundtrip",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val cents = Similarity.kmeansCentroids(emb, 16, 3)
        val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index")
        try {
          Similarity.saveIvfIndex(emb, cents, dir.toString)
          val (lc, lidx) = Similarity.loadIvfIndex(s, dir.toString)
          Similarity.identical(qs,
            Similarity.ivfTopKIndexed(qs, Similarity.assignBuckets(emb, cents),
              cents, nprobe = 4, k = 5),
            Similarity.ivfTopKIndexed(qs, lidx, lc, nprobe = 4, k = 5),
            k = 5)
            .localCheckpoint(true) // materialize before the dir dies
        } finally {
          graft.PlanHygiene.deleteRecursively(dir)
        }
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // DELETES against the persisted append-only index (r17 stretch):
    // dedup decisions delete docs, but the bucket-partitioned index
    // never rewrites — deletions append to a tombstone parquet that
    // the indexed read anti-joins out (broadcast, bounded by deletes
    // since the last rebuild, zero extra shuffle). The gate is exact
    // equality against a full REBUILD on the surviving corpus with the
    // same frozen centroids — tombstone-masking must be
    // indistinguishable from physical deletion.
    QueryDef(
      "ann_index_delete",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val cents = Similarity.kmeansCentroids(emb, 16, 3)
        val dir = java.nio.file.Files.createTempDirectory("graft-ivf-del")
        try {
          Similarity.saveIvfIndex(emb, cents, dir.toString)
          Similarity.appendIndexTombstones(dir.toString,
            emb.filter(col("vec_id") % 10 === 7))
          val (lc, lidx) = Similarity.loadIvfIndexTombstoned(s, dir.toString)
          Similarity.identical(qs,
            Similarity.ivfTopKIndexed(qs, lidx, lc, nprobe = 4, k = 5),
            Similarity.ivfTopKIndexed(qs,
              Similarity.assignBuckets(
                emb.filter(col("vec_id") % 10 =!= 7), cents),
              cents, nprobe = 4, k = 5),
            k = 5)
            .localCheckpoint(true) // materialize before the dir dies
        } finally {
          graft.PlanHygiene.deleteRecursively(dir)
        }
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Incremental ANN ingest: centroids train on HISTORY only, the new
    // batch is assigned with ONE pass over itself (zero over history),
    // and searching history ∪ assigned-increment must return the
    // IDENTICAL results as a full re-assignment with the same frozen
    // centroids — the property that lets a 100 TB index absorb a daily
    // crawl without touching the corpus. Assignment is per-row
    // deterministic given centroids, so this gate pins exact equality,
    // not recall.
    QueryDef(
      "ann_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val hist = emb.filter(col("vec_id") % 10 =!= 0)
        val inc = emb.filter(col("vec_id") % 10 === 0)
        val cents = Similarity.kmeansCentroids(hist, 16, 3)
        val merged = Similarity.assignBuckets(hist, cents)
          .unionByName(Similarity.assignBuckets(inc, cents))
        Similarity.identical(qs,
          Similarity.ivfTopKIndexed(qs, merged, cents, nprobe = 4, k = 5),
          Similarity.ivfTopKIndexed(qs,
            Similarity.assignBuckets(emb, cents), cents, nprobe = 4, k = 5),
          k = 5)
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // LSH-bucketed ANN scale path (sign-LSH over deterministic
    // splitmix-derived hyperplanes), recall-gated per query against the
    // exact brute top-5 like ann_ivf_recall: the oracle demands
    // recall_ok for every query, so a parameter set whose any-table
    // candidate union misses the floor goes red — the gate measures the
    // real (tables, bits) operating point, not a vacuous smoke test.
    QueryDef(
      "ann_lsh_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // (24, 4) measured tri-SF: hits 4-5/5 per query (PLANS.md r8).
        // The synthetic near-uniform embeddings are sign-LSH's worst
        // case (neighbors at wide angles), so the operating point is
        // coarse buckets × many tables; a clustered real corpus
        // supports more bits (smaller buckets) at the same recall.
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 4,
            Similarity.lshTopK(qs, emb, k = 5, tables = 24, bits = 4))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // SQ8 scale path: int8-quantized candidate generation (native
    // graft_int_dot — 4× less scan bandwidth than float cosine over the
    // full corpus) + exact float rerank of cand=50 candidates, gated on
    // recall against the exact brute twin — same deterministic contract
    // as ann_ivf_recall. (cand, floor) measured tri-SF: cand=25 loses
    // one true neighbor at sf0.01 (q2: 4/5); cand=50 recovers the full
    // true top-5 for every query at every SF, so floor=5 — a strict
    // gate, not a relaxed one.
    QueryDef(
      "ann_sq8_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 5,
            Similarity.sq8TopK(qs, emb, k = 5, cand = 50))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // The SQ8 path's RESULT channel — a strictly stronger claim than
    // the recall gate: with cand=50 the quantized candidate pass
    // provably (measured tri-SF) contains the full true top-5, and the
    // rerank is exact float cosine, so the emitted ranking IS brute's
    // — hash-compared rank for rank against the same all-pairs oracle
    // as ann_brute_topk.
    QueryDef(
      "ann_sq8_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.sq8TopK(emb.filter(col("vec_id") < 5), emb,
            k = 5, cand = 50)
          .select(col("q_id"), col("neighbor_id"), col("rank"))
          .orderBy(col("q_id"), col("rank"))
      },
      Some(bruteTopKOracle)),

    // PQ (product quantization) — the fourth ANN path: m-byte codes in
    // the full-corpus candidate scan (64× smaller than float vectors
    // here), ADC lookup scoring, exact rerank. (8 subspaces, 32
    // centroids, cand=300) measured tri-SF: 4-5/5 per query, stable
    // across 3 reps (PLANS.md r8). The near-uniform synthetic
    // embeddings are the hard case for PQ as for sign-LSH — true
    // neighbors sit at wide angles, so quantization cells separate
    // them and the honest operating point spends a 6% candidate
    // fraction; a clustered real corpus reaches the same recall with
    // far fewer candidates.
    QueryDef(
      "ann_pq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 4,
            Similarity.pqTopK(qs, emb, k = 5, cand = 300, m = 8, ksub = 32,
              iters = 1))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // IVF-PQ — the COMPOSED production index (Jégou IVFADC layout):
    // coarse buckets prune the scan to nprobe/K of the corpus AND PQ
    // codes shrink what it touches, multiplying the two savings. One
    // index-build pass emits (bucket, codes, rnorm) per vector.
    // (K=16, nprobe=6, coarseIters=3, m=8, ksub=32, cand=300) measured
    // tri-SF: 4-5/5 per query, identical across 3 reps (PLANS.md r8) —
    // at sf0.1 the composition is 5/5, BETTER than flat PQ's 4-5/5,
    // because cand=300 covers a larger fraction of the pruned scan.
    QueryDef(
      "ann_ivfpq_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 4,
            Similarity.ivfpqTopKWith(qs, emb,
              Similarity.kmeansCentroids(emb, 16, 3),
              Similarity.pqCodebooks(emb, m = 8, ksub = 32, iters = 1,
                dim = 64),
              nprobe = 6, k = 5, cand = 300))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Clustered-corpus LSH operating point — the regime PLANS.md's
    // sweeps promise ("a clustered real corpus reaches the same recall
    // with far fewer candidates", which the near-uniform driver
    // embeddings cannot show): a deterministic 32-cluster ±1-direction
    // fixture derived from the embeddings ids, where the gate demands
    // FULL recall (floor = k) and a < 5% candidate fraction at once —
    // both asserted from the real candidate frame, so either a recall
    // regression or a bucketing collapse to near-brute turns a row red.
    QueryDef(
      "ann_lsh_clustered",
      (s, d) => {
        // the md5-derived fixture is re-scanned by every training /
        // encode / gate pass below — materialize it ONCE (deterministic
        // expression, so values are unchanged; guide §5 persist-reused-
        // frames, the e2e funnel lesson applied to the ANN fixtures)
        val emb = Similarity.clusteredCorpus(
          Tables.embeddings(s, d).select(col("vec_id")), clusters = 32)
          .localCheckpoint(true)
        Similarity.lshRecallWithFraction(emb.filter(col("vec_id") < 5), emb,
            k = 5, floor = 5, maxFrac = 0.05, tables = 8, bits = 10)
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok, TRUE AS frac_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Clustered-corpus PQ operating point: same fixture, full recall
    // through a rerank set of 4% of the corpus (vs the 6%+ the
    // near-uniform corpus honestly needs at sf0.1, ann_pq_recall).
    // cand scales WITH the corpus because within a cluster PQ codes
    // collapse to the same codewords (ADC cannot rank inside a
    // cluster — a structural property, measured: fixed cand=20 < the
    // 62-member sf0.1 clusters loses true neighbors to tie-breaks), so
    // the rerank set must cover the query's cluster; 4% ≥ the 1/32
    // cluster mass with margin. Fraction still asserted from the
    // actual candidate frame like the LSH twin.
    QueryDef(
      "ann_pq_clustered",
      (s, d) => {
        // the md5-derived fixture is re-scanned by every training /
        // encode / gate pass below — materialize it ONCE (deterministic
        // expression, so values are unchanged; guide §5 persist-reused-
        // frames, the e2e funnel lesson applied to the ANN fixtures)
        val emb = Similarity.clusteredCorpus(
          Tables.embeddings(s, d).select(col("vec_id")), clusters = 32)
          .localCheckpoint(true)
        val cand = math.max(5, math.ceil(0.04 * emb.count()).toInt)
        Similarity.pqRecallWithFraction(emb.filter(col("vec_id") < 5), emb,
            k = 5, cand = cand, floor = 5, maxFrac = 0.05,
            m = 8, ksub = 16, iters = 1)
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok, TRUE AS frac_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // The COMPOSED IVF-PQ index on the clustered fixture — the index
    // you'd actually deploy at 100 TB — with its MULTIPLIED pruning
    // asserted from the real frames (Similarity.ivfpqRecallWithFraction
    // scaladoc): full recall through coarse-probe → ADC → rerank, the
    // coarse quantizer's admitted scan ≤ 20% of the corpus (nprobe
    // 2/16 by mass; measured tri-SF 0.06–0.125 per query, PLANS.md
    // round-11 — and that scan reads 8-byte codes, not 256-byte
    // vectors), and the float rerank ≤ 5% (cand = 4%, ≥ the 1/32
    // cluster mass with margin). Either stage regressing to
    // near-brute turns its own column FALSE.
    QueryDef(
      "ann_ivfpq_clustered",
      (s, d) => {
        // the md5-derived fixture is re-scanned by every training /
        // encode / gate pass below — materialize it ONCE (deterministic
        // expression, so values are unchanged; guide §5 persist-reused-
        // frames, the e2e funnel lesson applied to the ANN fixtures)
        val emb = Similarity.clusteredCorpus(
          Tables.embeddings(s, d).select(col("vec_id")), clusters = 32)
          .localCheckpoint(true)
        val cand = math.max(5, math.ceil(0.04 * emb.count()).toInt)
        Similarity.ivfpqRecallWithFraction(emb.filter(col("vec_id") < 5),
            emb, k = 5, cand = cand, floor = 5,
            maxCoarseFrac = 0.2, maxCandFrac = 0.05,
            numCentroids = 16, nprobe = 2, coarseIters = 3,
            m = 8, ksub = 16, iters = 1)
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok,
             |       TRUE AS coarse_frac_ok, TRUE AS cand_frac_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Persisted IVF-PQ index round-trip — the deployment artifact at
    // 100 TB persists and reloads without drift: train coarse +
    // codebooks ONCE, search in-memory, save the composed layout
    // (centroids + codebooks + bucket-PARTITIONED m-byte codes — the
    // probed search file-prunes non-probed buckets AND reads 8-byte
    // codes instead of 256-byte vectors), load it back, and the loaded
    // search must return the IDENTICAL (q_id, neighbor_id) set.
    // Encode/probe/ADC are per-row deterministic given (coarse,
    // codebooks), so this pins exact equality, not recall — the
    // ann_index_roundtrip contract one quantization level up.
    QueryDef(
      "ann_ivfpq_index_roundtrip",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val coarse = Similarity.kmeansCentroids(emb, 16, 3)
        val cbs = Similarity.pqCodebooks(emb, m = 8, ksub = 16,
          iters = 1, dim = 64)
        val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-rt")
        try {
          Similarity.saveIvfPqIndex(emb, coarse, cbs, dir.toString)
          val (lc, lcb, lcodes) = Similarity.loadIvfPqIndex(s, dir.toString)
          Similarity.identical(qs,
            Similarity.ivfpqTopKWith(qs, emb, coarse, cbs,
              nprobe = 6, k = 5, cand = 50),
            Similarity.ivfpqTopKIndexed(qs, lcodes, lc, lcb, emb,
              nprobe = 6, k = 5, cand = 50),
            k = 5)
            .localCheckpoint(true) // materialize before the dir dies
        } finally {
          graft.PlanHygiene.deleteRecursively(dir)
        }
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Incremental IVF-PQ ingest: coarse centroids AND codebooks train
    // on HISTORY only, the new batch is encoded with ONE pass over
    // itself (ivfpqEncodeWith — zero passes over history), and
    // searching history ∪ encoded-increment must return IDENTICAL
    // results to a full re-encode with the same frozen quantizers —
    // the property that lets the persisted codes table absorb a daily
    // crawl as an APPEND (new bucket=… files in the same partitioned
    // layout) without re-training or re-reading 100 TB. ksub=8 keeps
    // the first-K codebook seeds (vec_ids 0..7) inside every history
    // slice of the %10 split.
    QueryDef(
      "ann_ivfpq_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val hist = emb.filter(col("vec_id") % 10 =!= 9)
        val inc = emb.filter(col("vec_id") % 10 === 9)
        val coarse = Similarity.kmeansCentroids(hist, 16, 3)
        val cbs = Similarity.pqCodebooks(hist, m = 8, ksub = 8,
          iters = 1, dim = 64)
        val merged = Similarity.ivfpqEncodeWith(hist, coarse, cbs)
          .unionByName(Similarity.ivfpqEncodeWith(inc, coarse, cbs))
        val full = Similarity.ivfpqEncodeWith(emb, coarse, cbs)
        Similarity.identical(qs,
          Similarity.ivfpqTopKIndexed(qs, merged, coarse, cbs, emb,
            nprobe = 6, k = 5, cand = 50),
          Similarity.ivfpqTopKIndexed(qs, full, coarse, cbs, emb,
            nprobe = 6, k = 5, cand = 50),
          k = 5)
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // SEARCH through the persisted IVF-PQ index as its own measured
    // claim: ann_ivfpq_clustered pays per-rep coarse + codebook
    // training (it measures index BUILD); this twin searches a
    // build-once memoized on-disk index (the production read path —
    // the r11 verdict's split-the-claim directive), so its bench time
    // is probe + pruned ADC scan + rerank + the brute recall baseline.
    // Same clustered fixture and operating point as the build channel
    // (identical deterministic training → identical index → the
    // tri-SF floor=5 measurement carries over verbatim).
    QueryDef(
      "ann_ivfpq_search_indexed",
      (s, d) => {
        // the md5-derived fixture is re-scanned by every training /
        // encode / gate pass below — materialize it ONCE (deterministic
        // expression, so values are unchanged; guide §5 persist-reused-
        // frames, the e2e funnel lesson applied to the ANN fixtures)
        val emb = Similarity.clusteredCorpus(
          Tables.embeddings(s, d).select(col("vec_id")), clusters = 32)
          .localCheckpoint(true)
        val cand = math.max(5, math.ceil(0.04 * emb.count()).toInt)
        val dir = ivfpqIndexDir(s, d, emb)
        val (lc, lcb, lcodes) = Similarity.loadIvfPqIndex(s, dir)
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 5,
            Similarity.ivfpqTopKIndexed(qs, lcodes, lc, lcb, emb,
              nprobe = 2, k = 5, cand = cand))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // The SAMPLED index build through the driver gate (r17 — the
    // production-scale API, oracle-gated instead of only spec-gated):
    // coarse centroids AND PQ codebooks train on the bounded
    // hash-ordered sample (Similarity.trainingSample — the 10.5×
    // build-cost lever at 100 TB, where full-corpus codebook training
    // is the one unaffordable term), then the corpus is encoded ONCE
    // with the frozen quantizers and searched through the indexed path
    // at the same clustered-fixture operating point as
    // ann_ivfpq_clustered. recall floor=5 must hold with the sampled
    // quantizers — the parity IvfScaleSpec measures at m=8/ksub=256
    // over 100k vectors, asserted here tri-SF by the driver.
    QueryDef(
      "ann_ivfpq_sampled",
      (s, d) => {
        // the md5-derived fixture is re-scanned by every training /
        // encode / gate pass below — materialize it ONCE (deterministic
        // expression, so values are unchanged; guide §5 persist-reused-
        // frames, the e2e funnel lesson applied to the ANN fixtures)
        val emb = Similarity.clusteredCorpus(
          Tables.embeddings(s, d).select(col("vec_id")), clusters = 32)
          .localCheckpoint(true)
        val cand = math.max(5, math.ceil(0.04 * emb.count()).toInt)
        val coarse = Similarity.kmeansCentroidsSampled(emb, k = 16,
          iters = 3)
        val cbs = Similarity.pqCodebooksSampled(emb, m = 8, ksub = 16,
          iters = 1, dim = 64)
        val codes = Similarity.ivfpqEncodeWith(emb, coarse, cbs)
        val qs = emb.filter(col("vec_id") < 5)
        Similarity.recall(qs, emb, k = 5, floor = 5,
            Similarity.ivfpqTopKIndexed(qs, codes, coarse, cbs, emb,
              nprobe = 2, k = 5, cand = cand))
          .orderBy(col("q_id"))
      },
      Some("""SELECT vec_id AS q_id, TRUE AS recall_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Embedding-cosine near-dup, recall-gated in-query against the
    // exact all-pairs twin on the bounded slice (the dedup analog of
    // ann_ivf_recall): bucket assignment is centroid-dependent, but
    // "the multi-probe bucketed pass recovers >= 90% of the true pairs
    // and invents none" is deterministic and oracle-checkable. Measured
    // tri-SF recall at nprobe=4/K=16: 7/7, 14/14, 13/13 (nprobe=1 was
    // 29-46% — the probe multiplier is the recall lever, and it scales
    // as nprobe/K, not quadratically).
    QueryDef(
      "dedup_embedding_recall",
      (s, d) =>
        graft.ops.Similarity.nearDupRecall(
            Tables.embeddings(s, d).filter(col("vec_id") < 500),
            numCentroids = 16, threshold = 0.45, floor = 0.9, nprobe = 4),
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
             |       TRUE AS recall_ok, TRUE AS precision_ok
             |FROM embeddings a, embeddings b
             |WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45""".stripMargin)),

    // Exact twin with a full DuckDB oracle: all-pairs cosine over a
    // deterministically bounded slice (vec_id < 500 — fixed cost at any
    // SF; the unbounded scale path stays IVF-bucketed above). τ = 0.45
    // sits in a ~0.003-wide gap of the actual score distribution, so the
    // float-vs-double cosine difference between engines cannot flip a
    // pair across the threshold. Scores are NOT emitted (the two engines
    // accumulate in different precisions); membership + ids are exact.
    QueryDef(
      "dedup_embedding_exact",
      (s, d) =>
        graft.ops.Similarity.bruteNearDups(
            Tables.embeddings(s, d).filter(col("vec_id") < 500),
            threshold = 0.45)
          .select(col("id_a"), col("id_b"))
          .orderBy(col("id_a"), col("id_b")),
      Some("""SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |FROM embeddings a, embeddings b
             |WHERE a.vec_id < 500 AND b.vec_id < 500 AND a.vec_id < b.vec_id
             |  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin)),

    // SemDeDup-style semantic dedup DECISIONS (keep/rep per doc) over
    // the bounded slice, exact-candidate twin (semanticDedupExact) so
    // the whole decision layer — pairs, transitive closure, lowest-id
    // representative election, unpaired-doc self-representation — is
    // value-checked end-to-end: the oracle recomputes all-pairs cosine
    // at the same gap-protected τ (see dedup_embedding_exact), closes
    // components with a recursive CTE (the dedup_components pattern),
    // and left-joins every slice doc back in. The unbounded scale path
    // is Similarity.semanticDedup (IVF-bucketed candidates, capped +
    // shouted), whose pair recall is separately gated by
    // dedup_embedding_recall over the identical pair machinery.
    QueryDef(
      "dedup_semantic",
      (s, d) =>
        graft.ops.Similarity.semanticDedupExact(
            Tables.embeddings(s, d).filter(col("vec_id") < 500),
            threshold = 0.45)
          .orderBy(col("vec_id")),
      Some("""WITH RECURSIVE sl AS (
             |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
             |p AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM sl a, sl b WHERE a.vec_id < b.vec_id
             |    AND list_cosine_similarity(a.embedding, b.embedding) >= 0.45),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
             |SELECT sl.vec_id,
             |       COALESCE(comp.component, sl.vec_id) = sl.vec_id AS keep,
             |       COALESCE(comp.component, sl.vec_id) AS rep_id
             |FROM sl LEFT JOIN comp ON comp.id = sl.vec_id
             |ORDER BY sl.vec_id""".stripMargin)),

    // BPE-ish token counting (whitespace + subword-boundary regex), both
    // reproducible in RE2 and Java regex (ASCII classes only).
    QueryDef(
      "text_bpe_tokens",
      (s, d) => {
        val pat = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"
        Tables.documents(s, d).select(
          col("doc_id"),
          expr("size(regexp_extract_all(text, '\\\\S+', 0))").cast("long").as("n_ws_tokens"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |       CAST(LEN(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
             |       CAST(LEN(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ── End-to-end training-set construction: the composed pipeline a
    //    real data-curation run executes — quality filter + near-dup
    //    removal (LSH-verified pairs; J=1 exact dups are always caught
    //    because identical docs share every band) — as ONE declarative
    //    query, hash-checked against the same logic in pure SQL. Keep
    //    rule: a doc is dropped iff it appears as the HIGHER id of a
    //    verified pair (keep-first), then kept docs must pass quality.
    QueryDef(
      "pipeline_train_set",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val drops = Dedup.minhashPairs(docs, shingleN = 3, b = 8, r = 4,
            threshold = 0.5)
          .select(col("id_b").as("doc_id")).distinct()
        TextAnalysis.quality(docs)
          .filter(col("quality_ok"))
          .join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_words"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.5),
             |drops AS (SELECT DISTINCT id_b AS doc_id FROM p),
             |q AS (
             |  SELECT doc_id,
             |         LEN(regexp_extract_all(lower(text), '\w+')) AS n_words,
             |         (LEN(regexp_extract_all(lower(text), '\w+')) >= 5 AND
             |          CAST(LEN(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
             |            / LENGTH(text) < 0.1) AS quality_ok
             |  FROM documents)
             |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words FROM q
             |WHERE quality_ok AND doc_id NOT IN (SELECT doc_id FROM drops)
             |ORDER BY doc_id""".stripMargin)),

    // ── THE COMPOSED END-TO-END PIPELINE (pipeline_train_set widened to
    //    the full production funnel — r15 verdict ask #2): extract →
    //    langid(en) → NB quality → minhash-dedup → decontaminate(%10
    //    bench) → domain mix (budget = 3/4 corpus) → pack(512) → split.
    //    Every stage reuses its own tri-SF-gated operator; the oracle
    //    replays the whole funnel as one CTE chain built from the SAME
    //    idioms each stage's solo oracle uses (htmlDecodeSql, the
    //    langid votes, nbQualityOracle's fpDuck weights, train_set's
    //    prefix-filter dedup, the decontaminate join, the mix quotas,
    //    the pack prefix-sum, splitUSql). Output (doc_id, source,
    //    n_tok, pack_id, split): presence encodes stages 1-6, pack_id
    //    encodes mix+pack, split the draw — one row hash covers the
    //    composition. ScalingSpec runs this same operator across FOUR
    //    scale points (sf0.001 → generated sf1) for the wall-clock
    //    slope; this channel is its tri-SF correctness anchor.
    QueryDef(
      "pipeline_e2e_train_set",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val budget = (docs.count() * 3L / 4L).toInt
        Curation.e2eTrainSet(docs, label = nbLabel, mixBudget = budget)
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH st AS (
              |  SELECT doc_id, source,
              |         regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
              |           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              |           '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              |           '(?s)<!--.*?-->', ' ', 'g'),
              |           '<[^>]+>', ' ', 'g') AS s
              |  FROM documents),
              |ex AS (
              |  SELECT doc_id, source,
              |         trim(regexp_replace($htmlDecodeSql, '[ \\t\\n\\r]+', ' ', 'g')) AS text
              |  FROM st),
              |tok AS (
              |  SELECT doc_id, source, text,
              |         regexp_extract_all(lower(text), '\\w+') AS toks
              |  FROM ex),
              |enf AS (
              |  SELECT * FROM (
              |    SELECT t.*,
              |           LEN(list_filter(toks, w -> w IN ('the','and','of','to','a'))) AS s_en,
              |           LEN(list_filter(toks, w -> w IN ('el','los','que','y','es'))) AS s_es,
              |           LEN(list_filter(toks, w -> w IN ('der','die','und','das','ist'))) AS s_de,
              |           LEN(list_filter(toks, w -> w IN ('le','les','et','des','une'))) AS s_fr
              |    FROM tok t)
              |  WHERE s_en >= GREATEST(s_es, s_de, s_fr)),
              |lab AS (
              |  SELECT doc_id,
              |         (LEN(toks) >= 5 AND
              |          LEN(regexp_extract_all(text, '[.,!?;:]')) * 10 < LENGTH(text) AND
              |          LEN(list_filter(toks, w -> w IN
              |            ('the','a','of','and','to','in','is','it'))) * 50
              |            >= LEN(toks)) AS tgt,
              |         toks
              |  FROM enf),
              |bg AS (SELECT doc_id, tgt,
              |              unnest([toks[i] || ' ' || toks[i+1]
              |                      for i in range(1, len(toks))]) AS b
              |       FROM lab),
              |pb AS (SELECT doc_id, tgt,
              |              ('0x' || substring(md5(b), 1, 8))::BIGINT % 256 AS bk,
              |              CAST(COUNT(*) AS BIGINT) AS c
              |       FROM bg GROUP BY 1, 2, 3),
              |nst AS (SELECT bk,
              |               CAST(SUM(CASE WHEN doc_id % 10 <> 0 AND tgt
              |                             THEN c ELSE 0 END) AS BIGINT) AS cp,
              |               CAST(SUM(CASE WHEN doc_id % 10 <> 0 AND NOT tgt
              |                             THEN c ELSE 0 END) AS BIGINT) AS cn
              |        FROM pb GROUP BY 1),
              |w AS (SELECT bk, ${fpDuck("(cp + 1)")} - ${fpDuck("(cn + 1)")} AS w
              |      FROM nst),
              |km AS (SELECT ${fpDuck("(tp + 256)")} - ${fpDuck("(tn + 256)")} AS k
              |       FROM (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
              |                    CAST(SUM(cn) AS BIGINT) AS tn FROM nst)),
              |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb,
              |              CAST(SUM(c * COALESCE(w.w, 0)) AS BIGINT) AS raw
              |       FROM pb LEFT JOIN w USING (bk) GROUP BY 1),
              |keep AS (SELECT e.doc_id FROM enf e
              |         LEFT JOIN sc ON sc.doc_id = e.doc_id CROSS JOIN km
              |         WHERE (COALESCE(sc.raw, 0) - COALESCE(sc.nb, 0) * km.k) > 0),
              |kd AS (SELECT e.doc_id, e.source, e.toks
              |       FROM enf e JOIN keep USING (doc_id)),
              |sh AS (SELECT doc_id,
              |              list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              |                             for i in range(1, len(toks)-1)]) AS s
              |       FROM kd),
              |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
              |pf AS (SELECT doc_id, unnest(s[1 : len(s) -
              |              CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
              |       FROM srt),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |         FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
              |dup AS (SELECT DISTINCT id_b AS doc_id
              |        FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
              |                  JOIN srt sb ON sb.doc_id = cand.id_b
              |        WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
              |              (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              |              >= 0.5),
              |uniq AS (SELECT * FROM kd WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
              |tr AS (SELECT * FROM uniq WHERE doc_id % 10 <> 0),
              |bsh AS (SELECT doc_id AS bench_id,
              |               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              |                                     for i in range(1, len(toks)-1)])) AS g
              |        FROM tok WHERE doc_id % 10 = 0),
              |tsh AS (SELECT doc_id,
              |               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
              |                                     for i in range(1, len(toks)-1)])) AS g
              |        FROM tr),
              |cont AS (SELECT DISTINCT doc_id FROM (
              |           SELECT t.doc_id, b.bench_id, COUNT(*) AS c
              |           FROM tsh t JOIN bsh b USING (g) GROUP BY 1, 2)
              |         WHERE c >= 3),
              |cln AS (SELECT doc_id, source, LEN(toks) AS n_tok FROM tr
              |        WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
              |per AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
              |        FROM cln GROUP BY 1),
              |ww AS (SELECT source,
              |              CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(38,6)) AS sd
              |       FROM per),
              |q AS (SELECT source,
              |             CAST(FLOOR(ROUND(CAST(sd AS DOUBLE) /
              |                  CAST((SELECT SUM(sd) FROM ww) AS DOUBLE), 6) *
              |                  (SELECT COUNT(*) * 3 // 4 FROM documents)) AS BIGINT) AS quota
              |      FROM ww),
              |mx AS (SELECT doc_id, source, n_tok FROM (
              |         SELECT cln.*, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              |         FROM cln)
              |       JOIN q USING (source) WHERE rn <= quota),
              |pk AS (SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
              |              CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
              |                   / 512) AS BIGINT) AS pack_id
              |       FROM mx)
              |SELECT doc_id, source, n_tok, pack_id,
              |       CASE WHEN $splitUSql < 0.8 THEN 'train'
              |            WHEN $splitUSql < 0.9 THEN 'val'
              |            ELSE 'test' END AS split
              |FROM pk ORDER BY doc_id""".stripMargin)),

    // ── Curation planners: balanced downsampling + sequence packing ────
    // Deterministic stratified downsample — every 10th doc per language
    // in id order: the reproducible "1/10 sample preserving the language
    // mix" (Bernoulli sampling would be RNG-dependent and unauditable).
    QueryDef(
      "pipeline_stratified_sample",
      (s, d) =>
        Curation.stratifiedEveryKth(Tables.documents(s, d),
            col("lang"), k = 10, orderKey = col("doc_id"))
          .select(col("lang"), col("doc_id"))
          .orderBy(col("lang"), col("doc_id")),
      Some("""SELECT lang, doc_id FROM (
             |  SELECT lang, doc_id,
             |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |  FROM documents)
             |WHERE rn % 10 = 1 ORDER BY lang, doc_id""".stripMargin)),

    // Deterministic train/val/test split (80/10/10 by the Lehmer-hash
    // uniform): per-(source, split) doc and token counts — the holdout
    // assignment reproduces run over run and engine over engine, so
    // the whole assignment hash-checks (an RNG split cannot).
    QueryDef(
      "pipeline_split",
      (s, d) => Curation.assignSplits(
          Tables.documents(s, d)
            .withColumn("n_tokens", size(TextAnalysis.tokens).cast("long")),
          trainFrac = 0.8, valFrac = 0.1)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy(col("source"), col("split")),
      Some(s"""WITH t AS (
              |  SELECT source,
              |         CAST(LEN(regexp_extract_all(lower(text), '\\w+')) AS BIGINT)
              |           AS n_tokens,
              |         $splitUSql AS u
              |  FROM documents),
             |s AS (
             |  SELECT source, n_tokens,
             |         CASE WHEN u < 0.8 THEN 'train'
             |              WHEN u < 0.9 THEN 'val'
             |              ELSE 'test' END AS split
             |  FROM t)
             |SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
             |FROM s GROUP BY 1, 2 ORDER BY source, split""".stripMargin)),

    // Cross-split near-dup leakage — the eval-contamination measure: a
    // naive per-doc split (pipeline_split's exact assignment) crossed
    // with the exact n-gram Jaccard pairs (dedup_ngram_jaccard's exact
    // pair set); every emitted pair is a test/val doc whose near-dup
    // sits in another split. Oracle recomputes both sides in SQL.
    QueryDef(
      "pipeline_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 3,
            threshold = 0.35)
          .select(col("id_a"), col("id_b"))
        val splits = Curation.assignSplits(docs.select(col("doc_id")),
          trainFrac = 0.8, valFrac = 0.1)
        Curation.crossSplitPairs(pairs, splits)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id,
              |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              |                        for i in range(1, len(t)-1)]) AS s
              |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
              |        FROM documents)),
              |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
              |pf AS (
              |  SELECT doc_id, unnest(s[1 : len(s) -
              |         CAST(ceil(0.35 * len(s)) AS INT) + 1]) AS tok
              |  FROM srt),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
              |p AS (
              |  SELECT id_a, id_b
              |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
              |            JOIN srt sb ON sb.doc_id = cand.id_b
              |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
              |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
              |        >= 0.35),
              |sp AS (
              |  SELECT doc_id,
              |         CASE WHEN $splitUSql < 0.8 THEN 'train'
              |              WHEN $splitUSql < 0.9 THEN 'val'
              |              ELSE 'test' END AS split
              |  FROM documents)
              |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b
              |FROM p JOIN sp sa ON sa.doc_id = p.id_a
              |       JOIN sp sb ON sb.doc_id = p.id_b
              |WHERE sa.split <> sb.split
              |ORDER BY id_a, id_b""".stripMargin)),

    // The FIX for the leakage above: whole near-dup components draw
    // their split from the component representative's id, so no pair
    // can cross a boundary (crossSplitPairs over this assignment is
    // empty — spec-pinned); unpaired docs assign byte-identically to
    // pipeline_split. Oracle: recursive-CTE transitive closure over
    // the same exact pair set, then the Lehmer draw on the rep.
    QueryDef(
      "pipeline_split_grouped",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.ngramJaccardPairs(docs, shingleN = 3,
            threshold = 0.35)
          .select(col("id_a"), col("id_b"))
        Curation.groupedSplits(docs.select(col("doc_id")), pairs,
            trainFrac = 0.8, valFrac = 0.1)
          .select(col("doc_id"), col("rep_id"), col("split"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH RECURSIVE sh AS (
             |  SELECT doc_id,
             |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                        for i in range(1, len(t)-1)]) AS s
             |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |        FROM documents)),
             |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
             |pf AS (
             |  SELECT doc_id, unnest(s[1 : len(s) -
             |         CAST(ceil(0.35 * len(s)) AS INT) + 1]) AS tok
             |  FROM srt),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
             |p AS (
             |  SELECT id_a, id_b
             |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
             |            JOIN srt sb ON sb.doc_id = cand.id_b
             |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
             |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
             |        >= 0.35),
             |edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM p
             |  UNION SELECT id_b, id_a FROM p),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id),
             |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
             |rep AS (
             |  SELECT d.doc_id,
             |         COALESCE(comp.component, d.doc_id) AS rep_id
             |  FROM documents d LEFT JOIN comp ON comp.id = d.doc_id),
             |u AS (
             |  SELECT doc_id, rep_id,
             |         CAST((xor(((rep_id + 1936747587) % 2147483647),
             |                   ((rep_id + 1936747587) % 2147483647) >> 15)
             |               * 2654435761) % 2147483647 AS DOUBLE)
             |           / 2147483647 AS uu
             |  FROM rep)
             |SELECT doc_id, rep_id,
             |       CASE WHEN uu < 0.8 THEN 'train'
             |            WHEN uu < 0.9 THEN 'val'
             |            ELSE 'test' END AS split
             |FROM u ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking, cross-doc shared-chunk report: chunk
    // boundaries wherever the 4-token window's md5 lands in 1/16 of
    // its range (content-defined, so shared runs realign after any
    // upstream edit — the sub-document dedup primitive). md5 of the
    // same string is identical in both engines, so chunking and the
    // chunk shas hash-check end to end. ~13-token average chunks and
    // 90-103 shared chunks measured on this corpus, so the channel
    // provably fires.
    QueryDef(
      "dedup_cdc_shared",
      (s, d) => Curation.cdcSharedChunks(Tables.documents(s, d), k = 4)
        .orderBy(col("sha")),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |tok AS (
             |  SELECT doc_id, u['pos'] AS pos, u['tok'] AS tok, u['b'] AS b
             |  FROM (
             |    SELECT doc_id, unnest([{'pos': i, 'tok': t[i],
             |      'b': CASE WHEN i > 1 AND i + 3 <= len(t)
             |                AND substr(md5(t[i] || ' ' || t[i+1] || ' ' ||
             |                               t[i+2] || ' ' || t[i+3]), 1, 1) = '0'
             |           THEN 1 ELSE 0 END}
             |      for i in range(1, len(t) + 1)]) AS u
             |    FROM d)),
             |ck AS (
             |  SELECT doc_id, pos, tok,
             |         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
             |                      ROWS UNBOUNDED PRECEDING) AS chunk_idx
             |  FROM tok),
             |ch AS (
             |  SELECT doc_id, chunk_idx,
             |         sha256(STRING_AGG(tok, ' ' ORDER BY pos)) AS sha,
             |         COUNT(*) AS n_tokens
             |  FROM ck GROUP BY 1, 2)
             |SELECT sha, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |       CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
             |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
             |ORDER BY sha""".stripMargin)),

    // Deterministic weighted (importance) sampling: keep each doc with
    // probability proportional to its token length (clamped at 200
    // tokens), decided by the Lehmer-hash uniform — exact integer
    // arithmetic + one division in BOTH engines, so every keep/drop
    // decision is bit-identical and the sample hash-checks (an RNG
    // sample never could: engine streams differ by partitioning).
    QueryDef(
      "pipeline_weighted_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("n_tokens", size(TextAnalysis.tokens).cast("long"))
        Curation.weightedSample(docs,
            col("n_tokens").cast("double") / lit(200.0), seed = 42L)
          .select(col("doc_id"), col("n_tokens"),
            round(col("w"), 6).as("w"), round(col("u"), 6).as("u"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |         CAST(LEN(regexp_extract_all(lower(text), '\\w+')) AS BIGINT)
              |           AS n_tokens
              |  FROM documents),
              |s AS (
              |  SELECT doc_id, n_tokens,
              |         LEAST(CAST(1.0 AS DOUBLE),
              |               GREATEST(CAST(0.0 AS DOUBLE),
              |                        CAST(n_tokens AS DOUBLE) / 200)) AS w,
              |         $lehmerUSql AS u
              |  FROM t)
              |SELECT doc_id, n_tokens, ROUND(w, 6) AS w, ROUND(u, 6) AS u
              |FROM s WHERE u < w ORDER BY doc_id""".stripMargin)),

    // Sequence-packing plan — per-language cumulative token offsets
    // assign each doc to its 4096-token pack (the planner step of a
    // concat-and-chunk tokenization run): one window prefix-sum per
    // shard, fully SQL-expressible, so the whole plan hash-checks.
    QueryDef(
      "pipeline_pack_sequences",
      (s, d) =>
        Curation.packSequences(Tables.documents(s, d),
            col("lang"), tokenBudget = 4096, orderKey = col("doc_id"))
          .select(col("doc_id"), col("lang"), col("n_tok"), col("pack_id"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang,
             |       CAST(LEN(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS n_tok,
             |       CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 4096) AS BIGINT) AS pack_id
             |FROM (
             |  SELECT doc_id, lang, text,
             |         LEN(regexp_extract_all(lower(text), '\w+')) AS n_tok,
             |         SUM(LEN(regexp_extract_all(lower(text), '\w+')))
             |           OVER (PARTITION BY lang ORDER BY doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Overlapping token chunking (size 64, stride 48): the RAG/pretrain
    // window-with-stride chunker; purely per-row (Generate fan-out, no
    // shuffle), last chunk short, sub-size docs yield one chunk.
    QueryDef(
      "pipeline_chunk_overlap",
      (s, d) => Curation.chunkWithOverlap(Tables.documents(s, d),
          chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             |         toks[(CAST(i AS INT) * 48 + 1):(CAST(i AS INT) * 48 + 64)] AS ct
             |  FROM t, UNNEST(range(0,
             |    CAST(CEIL(GREATEST(len(toks) - 64, 0) / 48.0) AS BIGINT) + 1)) AS u(i))
             |SELECT doc_id, chunk_idx, CAST(len(ct) AS BIGINT) AS n_tok,
             |       array_to_string(ct, ' ') AS chunk_text
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Pack materialization: the executor of pipeline_pack_sequences —
    // each (lang, pack) concatenates its docs in planner order into one
    // training sequence; ordered string_agg on both engines.
    QueryDef(
      "pipeline_pack_materialize",
      (s, d) => Curation.materializePacks(Tables.documents(s, d),
          col("lang"), tokenBudget = 4096, orderKey = col("doc_id"))
        .orderBy(col("shard"), col("pack_id")),
      Some("""SELECT lang AS shard,
             |       CAST(FLOOR(CAST(cum - n_tok AS DOUBLE) / 4096) AS BIGINT) AS pack_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(SUM(n_tok) AS BIGINT) AS pack_tok,
             |       string_agg(text, ' ' ORDER BY doc_id) AS packed_text
             |FROM (
             |  SELECT doc_id, lang, text,
             |         LEN(regexp_extract_all(lower(text), '\w+')) AS n_tok,
             |         SUM(LEN(regexp_extract_all(lower(text), '\w+')))
             |           OVER (PARTITION BY lang ORDER BY doc_id
             |                 ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM documents)
             |GROUP BY 1, 2 ORDER BY shard, pack_id""".stripMargin)),

    // Rule-based quality gate (C4/Gopher shape): hard word-count,
    // punctuation-density, and stopword-floor filters in one codegen'd
    // pass. On this corpus the stopword floor is the discriminating
    // rule (~12% drop measured sf0.01) so the gate provably fires; both
    // engines filter on the ROUNDED ratio columns they hash-compare.
    QueryDef(
      "pipeline_quality_filter",
      (s, d) => Curation.qualityFilter(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, LENGTH(text) AS n_chars,
             |         regexp_extract_all(lower(text), '\w+') AS toks,
             |         LEN(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
             |  FROM documents),
             |q AS (
             |  SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_words,
             |         ROUND(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
             |         ROUND(CAST(LEN(list_filter(toks,
             |               w -> w IN ('the','a','of','and','to','in','is','it')))
             |               AS DOUBLE) / LEN(toks), 6) AS stopword_ratio
             |  FROM t)
             |SELECT doc_id, n_words, punct_ratio, stopword_ratio FROM q
             |WHERE n_words >= 5 AND punct_ratio < 0.1
             |  AND stopword_ratio >= 0.02
             |ORDER BY doc_id""".stripMargin)),

    // Group-wise quantile gate: keep each source's top 80% by token
    // count — the dynamic-threshold quality cut (fixed thresholds
    // over-prune clean domains, under-prune noisy ones). percent_rank
    // is (rank−1)/(n−1) — integer-derived, so the kept set and the
    // emitted pr values hash-check; ties break by doc_id.
    QueryDef(
      "pipeline_quantile_gate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(TextAnalysis.tokens).cast("long").as("n_tokens"))
        Curation.quantileGate(docs, col("source"), col("n_tokens"),
            keepFrac = 0.8)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            round(col("pr"), 6).as("pr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source,
             |         CAST(LEN(regexp_extract_all(lower(text), '\w+')) AS BIGINT)
             |           AS n_tokens
             |  FROM documents),
             |r AS (
             |  SELECT *, PERCENT_RANK() OVER
             |           (PARTITION BY source ORDER BY n_tokens DESC, doc_id)
             |           AS pr
             |  FROM t)
             |SELECT doc_id, source, n_tokens, ROUND(pr, 6) AS pr
             |FROM r WHERE pr < 0.8 ORDER BY doc_id""".stripMargin)),

    // ── Multimodal binary columns ───────────────────────────────────────
    QueryDef(
      "mm_sniff",
      (s, d) =>
        Multimodal.sniff(
          Tables.documents(s, d).select(
            concat(lit("/mm/"), col("doc_id")).as("path"),
            col("text").cast("binary").as("data")))
          .orderBy(col("path")),
      Some("""SELECT '/mm/' || doc_id AS path,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       SUBSTRING(hex(encode(text)), 1, 8) AS magic
             |FROM documents ORDER BY path""".stripMargin)),

    // Frame sampling is pure byte-level windowing (every stride-th
    // frameSize window), so the WHOLE op — flatMap fan-out included —
    // is oracle-checkable. Frames compare as HEX of the raw bytes:
    // DuckDB has no md5(BLOB), and a byte window has no char-exact
    // VARCHAR twin once text goes multibyte — hex-slicing the encoded
    // payload is byte-exact for any content (one hex char = one nibble,
    // so byte offset o maps to hex position 2o+1, length 2L).
    QueryDef(
      "mm_frame_sample",
      (s, d) =>
        Multimodal.frameSample(
          Tables.documents(s, d).filter(col("doc_id") < 100).select(
            concat(lit("/mm/"), col("doc_id")).as("path"),
            col("text").cast("binary").as("data")),
          frameSize = 100, stride = 2)
          .select(col("path"), col("frame_idx"),
            hex(col("frame")).as("frame_hex"))
          .orderBy(col("path"), col("frame_idx")),
      Some("""WITH d AS (
             |  SELECT '/mm/' || doc_id AS path, hex(encode(text)) AS h,
             |         CAST(CEIL(octet_length(encode(text)) / 100.0) AS INT) AS nw
             |  FROM documents WHERE doc_id < 100)
             |SELECT path, CAST(i AS INTEGER) AS frame_idx,
             |       SUBSTRING(h, CAST(i AS INT) * 2 * 100 * 2 + 1, 200) AS frame_hex
             |FROM d, UNNEST(range(0, (nw - 1) // 2 + 1)) AS t(i)
             |WHERE nw > 0
             |ORDER BY path, frame_idx""".stripMargin)),

    // Decode runs the REAL mapPartitions batch path over payloads with
    // synthesized magic prefixes (doc_id%3: jpeg / png / raw), and the
    // hash-compared projection is the SQL-expressible part of the decode
    // (path, byte count, sniffed format). The stub-faked dimensions stay
    // spec-checked (PipelineOpsSpec), not oracle-checked.
    QueryDef(
      "mm_decode_meta",
      (s, d) => {
        val payload =
          when(col("doc_id") % 3 === 0,
            concat(unhex(lit("FFD8")), col("text").cast("binary")))
          .when(col("doc_id") % 3 === 1,
            concat(unhex(lit("89504E47")), col("text").cast("binary")))
          .otherwise(col("text").cast("binary"))
        Multimodal.decodeMeta(
          Tables.documents(s, d).filter(col("doc_id") < 100).select(
            concat(lit("/mm/"), col("doc_id")).as("path"),
            payload.as("data")))
          .select(col("path"), col("n_bytes"), col("format"))
          .orderBy(col("path"))
      },
      Some("""SELECT '/mm/' || doc_id AS path,
             |       CAST(octet_length(encode(text)) +
             |            CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 0 END
             |            AS BIGINT) AS n_bytes,
             |       CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
             |            ELSE 'bin' END AS format
             |FROM documents WHERE doc_id < 100 ORDER BY path""".stripMargin)),

    // REAL codec round-trip (r7 stretch item): per doc a true PNG/GIF is
    // encoded by the JDK's ImageIO writer at doc_id-derived dimensions,
    // then ImageIoDecoder header-parses it back — format, width, height
    // and frame count must match the construction formula the oracle
    // recomputes in SQL. This closes the decode loop with a REAL codec
    // (no stub on this path; StubDecoder remains the non-image
    // fallback, spec-checked in PipelineOpsSpec). n_bytes is excluded:
    // PNG/GIF payload size is compressor-dependent, not SQL-predictable.
    QueryDef(
      "mm_decode_real",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val fmt = if (id % 2 == 0) "png" else "gif"
            ("/mm/" + id, Multimodal.syntheticImage(
              id, 16 + (id % 48).toInt, 16 + (id % 31).toInt, fmt))
          })
          .toDF("path", "data")
        Multimodal.decodeMeta(payloads, Multimodal.ImageIoDecoder)
          .select(col("path"), col("format"), col("width"), col("height"),
            col("n_frames"))
          .orderBy(col("path"))
      },
      Some("""SELECT '/mm/' || doc_id AS path,
             |       CASE doc_id % 2 WHEN 0 THEN 'png' ELSE 'gif' END AS format,
             |       CAST(16 + doc_id % 48 AS INT) AS width,
             |       CAST(16 + doc_id % 31 AS INT) AS height,
             |       CAST(1 AS INT) AS n_frames
             |FROM documents WHERE doc_id < 100 ORDER BY path""".stripMargin)),

    // REAL perceptual-hash image dedup: 30 structured scenes render
    // through ImageIO, each with a RE-EXPOSED twin (+60 uniform
    // brightness, id+1000); aHash's exact cross-multiplied mean test is
    // provably invariant under the shift, so exact-groupBy dedup on the
    // hash must connect each scene to its twin AND nothing else — the
    // image dedup byte-level sha/md5 can never do (the twins share no
    // bytes). Pair generation is the capped groupBy(ahash) bucket
    // shape every dedup here uses (one shuffle of slim (hash, id)
    // rows, per-bucket fan-out bounded and drop-accounted — a viral
    // meme reposted a million times is ONE hot hash bucket); distinct
    // scenes landing in one bucket would surface as extra rows and a
    // red hash.
    QueryDef(
      "mm_phash_dedup",
      (s, d) => {
        import s.implicits._
        val imgs = Tables.documents(s, d).filter(col("doc_id") < 30)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = 24 + (id % 13).toInt * 3
            val h = 20 + (id % 11).toInt * 3
            Iterator(
              ("/img/" + id, Multimodal.patternedImage(id, w, h, 0)),
              ("/img/" + (1000 + id),
                Multimodal.patternedImage(id, w, h, 60)))
          })
          .toDF("path", "data")
        val hashed = Multimodal.aHash(imgs)
          .select(expr("CAST(substring(path, 6) AS BIGINT)").as("img_id"),
            col("ahash"))
        LshGuard.pairsFromIdBuckets(
            hashed.groupBy(col("ahash"))
              .agg(sort_array(collect_list(col("img_id"))).as("ids")),
            cap = 1000, kind = "phash")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""SELECT doc_id AS id_a, doc_id + 1000 AS id_b
             |FROM documents WHERE doc_id < 30
             |ORDER BY id_a, id_b""".stripMargin)),

    // REAL audio metadata: doc-derived canonical PCM WAV payloads →
    // RIFF chunk-walk decode. WAV is uncompressed, so EVERY emitted
    // column — including n_bytes (44 + samples·ch·2) and the integer
    // duration_ms — is predictable from the construction formula; the
    // image fixtures can't pin n_bytes (compressor-dependent).
    QueryDef(
      "mm_audio_meta",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            ("/audio/" + id, Multimodal.syntheticWav(
              id, channels = 1 + (id % 2).toInt,
              sampleRate = Seq(8000, 16000, 44100)((id % 3).toInt),
              nSamples = 500 + id % 1000))
          })
          .toDF("path", "data")
        Multimodal.audioMeta(payloads).orderBy(col("path"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ch,
             |         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             |              ELSE 44100 END AS rate,
             |         500 + doc_id % 1000 AS n
             |  FROM documents WHERE doc_id < 100)
             |SELECT '/audio/' || doc_id AS path,
             |       CAST(44 + n * ch * 2 AS BIGINT) AS n_bytes,
             |       'wav' AS format,
             |       CAST(ch AS INT) AS channels,
             |       CAST(rate AS INT) AS sample_rate,
             |       CAST(16 AS INT) AS bits_per_sample,
             |       CAST(n AS BIGINT) AS n_samples,
             |       CAST((n * 1000) // rate AS BIGINT) AS duration_ms
             |FROM p ORDER BY path""".stripMargin)),

    // ── Audio curation DECISION layer: whole-file silent/clipped/active
    //    verdicts folded from the exact-integer window stats. The
    //    fixture engineers all three classes deterministically —
    //    clipped docs START their sample walk just below +32768 (seed
    //    = (32550 + id)·31⁻¹ mod 2^16, so seed·31 + i crosses the
    //    positive rail), quiet docs shift amplitude down 6/12 bits at
    //    write time — and the oracle re-derives every sample,
    //    arithmetic shift as floor division. ──────────────────────────
    QueryDef(
      "mm_audio_gate",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 60)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val seed =
              if (id % 3 == 0) ((32550L + id) * 31711L) % 65536L
              else id * 100003L + 7L
            val shift = if (id % 3 == 0) 0 else if (id % 3 == 1) 6 else 12
            ("/audio/" + id, Multimodal.syntheticWav(
              seed, channels = 1, sampleRate = 16000,
              nSamples = 200 + id % 100, shiftBits = shift))
          })
          .toDF("path", "data")
        Multimodal.audioGate(payloads, windowSamples = 256,
            silentPeak = 64, clipPeak = 32700)
          .orderBy(col("path"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 200 + doc_id % 100 AS n,
             |         CASE doc_id % 3
             |              WHEN 0 THEN ((32550 + doc_id) * 31711) % 65536
             |              ELSE doc_id * 100003 + 7 END AS seed,
             |         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 64
             |              ELSE 4096 END AS divk
             |  FROM documents WHERE doc_id < 60),
             |x AS (
             |  -- arithmetic shift = FLOOR division; DuckDB's // operator
             |  -- truncates toward zero, which differs on negatives
             |  SELECT doc_id, n,
             |         CAST(FLOOR((CASE WHEN ((seed * 31 + i) & 65535) >= 32768
             |               THEN ((seed * 31 + i) & 65535) - 65536
             |               ELSE (seed * 31 + i) & 65535 END) / (1.0 * divk))
             |           AS BIGINT) AS v
             |  FROM p, LATERAL (SELECT unnest(range(0, n)) AS i) g),
             |a AS (
             |  SELECT doc_id, CAST(MAX(ABS(v)) AS INT) AS peak,
             |         CAST(SUM(v * v) AS BIGINT) AS sum_sq,
             |         CAST(COUNT(*) AS BIGINT) AS n_samples,
             |         CAST(CEIL(MAX(n) / 256.0) AS BIGINT) AS n_windows
             |  FROM x GROUP BY 1)
             |SELECT '/audio/' || doc_id AS path, peak, sum_sq, n_samples,
             |       n_windows,
             |       CASE WHEN peak < 64 THEN 'silent'
             |            WHEN peak >= 32700 THEN 'clipped'
             |            ELSE 'active' END AS verdict,
             |       (peak >= 64 AND peak < 32700) AS keep
             |FROM a ORDER BY path""".stripMargin)),

    // ── REAL audio DSP, value-checked to the last bit: synthesize PCM16
    //    WAVs whose sample values follow a closed-form integer formula
    //    (syntheticWav writes short((seed·31 + i) & 0xFFFF) at
    //    interleaved index i), run the real container-walk + windowed
    //    feature kernel (energy Σv², Σ|v|, peak, zero crossings — all
    //    exact integers), and have DuckDB RE-DERIVE every sample from
    //    the same formula and recompute every window aggregate. Mono
    //    and stereo interleave both covered (channel = i % ch). ─────────
    QueryDef(
      "mm_audio_features",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            ("/audio/" + id, Multimodal.syntheticWav(
              id, channels = 1 + (id % 2).toInt, sampleRate = 16000,
              nSamples = 300 + id % 200))
          })
          .toDF("path", "data")
        Multimodal.audioFeatures(payloads, windowSamples = 256)
          .orderBy(col("path"), col("channel"), col("window_id"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id, 1 + doc_id % 2 AS ch, 300 + doc_id % 200 AS n
             |  FROM documents WHERE doc_id < 40),
             |s AS (
             |  SELECT doc_id, i % ch AS channel, (i // ch) // 256 AS window_id,
             |         i // ch AS j,
             |         CASE WHEN ((doc_id * 31 + i) & 65535) >= 32768
             |              THEN ((doc_id * 31 + i) & 65535) - 65536
             |              ELSE (doc_id * 31 + i) & 65535 END AS v
             |  FROM p, LATERAL (SELECT unnest(range(0, n * ch)) AS i) g),
             |x AS (
             |  SELECT doc_id, channel, window_id, v,
             |         lag(v) OVER (PARTITION BY doc_id, channel ORDER BY j) AS pv
             |  FROM s)
             |SELECT '/audio/' || doc_id AS path,
             |       CAST(channel AS INT) AS channel,
             |       CAST(window_id AS INT) AS window_id,
             |       CAST(COUNT(*) AS INT) AS n_samples,
             |       CAST(SUM(v * v) AS BIGINT) AS sum_sq,
             |       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
             |       CAST(MAX(ABS(v)) AS INT) AS peak,
             |       CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
             |                     THEN 1 ELSE 0 END) AS INT) AS zero_crossings
             |FROM x GROUP BY 1, 2, 3
             |ORDER BY path, channel, window_id""".stripMargin)),

    // Real codec FULL loop: encode at doc-derived dims → decode →
    // nearest-neighbor rescale to a fixed 24×18 → re-encode PNG →
    // decode AGAIN. The oracle pins the invariant a real resize must
    // hold — every output decodes to exactly the target geometry
    // regardless of input size — which is only checkable because both
    // codec directions are real (the stub could fake n_bytes but not a
    // PNG that ImageIO re-parses to 24×18).
    QueryDef(
      "mm_resize_real",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            ("/mm/" + id, Multimodal.syntheticImage(
              id, 16 + (id % 48).toInt, 16 + (id % 31).toInt,
              if (id % 2 == 0) "png" else "gif"))
          })
          .toDF("path", "data")
        val resized = Multimodal.resizeImages(payloads, 24, 18)
        Multimodal.decodeMeta(
            resized.select(col("path"), col("resized").as("data")),
            Multimodal.ImageIoDecoder)
          .select(col("path"), col("format"), col("width"), col("height"))
          .orderBy(col("path"))
      },
      Some("""SELECT '/mm/' || doc_id AS path, 'png' AS format,
             |       CAST(24 AS INT) AS width, CAST(18 AS INT) AS height
             |FROM documents WHERE doc_id < 100 ORDER BY path""".stripMargin)),

    // Real feature extraction, exact to the pixel: the synthetic PNG's
    // pixel at (x,y) is (seed*31 + y*w + x) mod 2^24 by construction,
    // PNG is lossless, and featureGrid sums integer channel values — so
    // DuckDB can regenerate every pixel arithmetically and the 2×2-cell
    // channel sums must match BIT FOR BIT through a real encode→decode.
    // (PNG only: the GIF writer palette-quantizes, which is lossy.)
    // The large seed multiplier exercises all three channels.
    QueryDef(
      "mm_features_real",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 100)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            ("/mm/" + id, Multimodal.syntheticImage(
              id * 2654435761L, 16 + (id % 48).toInt, 16 + (id % 31).toInt))
          })
          .toDF("path", "data")
        Multimodal.featureGrid(payloads, grid = 2)
          .orderBy(col("path"), col("cell"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 16 + doc_id % 48 AS w, 16 + doc_id % 31 AS h
             |  FROM documents WHERE doc_id < 100),
             |px AS (
             |  SELECT doc_id, w, h, yy.i AS y, xx.i AS x,
             |         (doc_id * 2654435761 * 31 + yy.i * w + xx.i) % 16777216 AS v
             |  FROM d, UNNEST(range(0, h)) AS yy(i), UNNEST(range(0, w)) AS xx(i))
             |SELECT '/mm/' || doc_id AS path,
             |       CAST((y * 2) // h * 2 + (x * 2) // w AS INT) AS cell,
             |       CAST(SUM((v >> 16) & 255) AS BIGINT) AS r_sum,
             |       CAST(SUM((v >> 8) & 255) AS BIGINT) AS g_sum,
             |       CAST(SUM(v & 255) AS BIGINT) AS b_sum
             |FROM px GROUP BY 1, 2 ORDER BY path, cell""".stripMargin)),

    // Binary → REAL features → ANN, end to end: 30 structured scenes
    // (PNG via ImageIO) each with a +40 re-exposed twin; featureExtract
    // embeds both through the real decode (mean-centered exact-integer
    // grid features), and brute cosine top-1 from each twin over the
    // ORIGINALS must recover its own scene. The invariance is provable,
    // not statistical: centering cancels a uniform shift exactly
    // (Multimodal.featureExtract scaladoc), so the twin's embedding is
    // bit-identical to its original's and its cosine is exactly the
    // attainable maximum — while distinct scenes (30 distinct gradient
    // directions/phases/dims) sit far below it. Closes the last stub:
    // real images in, ANN neighbors out, same bounded-heap search path
    // (broadcast queries, one corpus pass, graft_topk) the embedding
    // table uses.
    QueryDef(
      "mm_feature_ann",
      (s, d) => {
        import s.implicits._
        val imgs = Tables.documents(s, d).filter(col("doc_id") < 30)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = 24 + (id % 13).toInt * 3
            val h = 20 + (id % 11).toInt * 3
            Iterator(
              ("/img/" + id, Multimodal.patternedImage(id, w, h, 0)),
              ("/img/" + (1000 + id),
                Multimodal.patternedImage(id, w, h, 40)))
          })
          .toDF("path", "data")
        val emb = Multimodal.featureExtract(imgs, grid = 4)
          .select(expr("CAST(substring(path, 6) AS BIGINT)").as("vec_id"),
            col("embedding"))
        Similarity.bruteTopK(
            emb.filter(col("vec_id") >= 1000),
            emb.filter(col("vec_id") < 1000), k = 1)
          .select(col("q_id"), col("neighbor_id"))
          .orderBy(col("q_id"))
      },
      Some("""SELECT doc_id + 1000 AS q_id, doc_id AS neighbor_id
             |FROM documents WHERE doc_id < 30
             |ORDER BY q_id""".stripMargin)),

    // REAL video decode (the last modality off the stub path): doc-
    // derived animated GIFs — nf solid-gray frames over an explicit
    // 256-gray palette, exact through the indexed encode — decode via
    // videoFrames' playing compositor into per-frame logical-screen
    // PNGs, and featureGrid's real image decode re-reads every frame.
    // The oracle re-derives frame count, geometry, and every channel
    // sum from the construction formula (frame f of video `id` is
    // solid gray (id·37 + f·53) mod 200, so each channel sums to
    // gray·w·h) — a wrong frame count, a dirty-rect-sized frame, or a
    // palette-requantized pixel all land as a red hash.
    QueryDef(
      "mm_video_frames",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 40)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            ("/vid/" + id, Multimodal.syntheticGif(
              id, 16 + (id % 17).toInt, 12 + (id % 13).toInt,
              2 + (id % 5).toInt))
          })
          .toDF("path", "data")
        val frames = Multimodal.videoFrames(payloads)
        val geo = frames.select(
          concat(col("path"), lit("#"), col("frame_idx")).as("k"),
          col("path"), col("frame_idx"), col("width"), col("height"))
        val stats = Multimodal.featureGrid(
            frames.select(
              concat(col("path"), lit("#"), col("frame_idx")).as("path"),
              col("frame").as("data")),
            grid = 1)
          .withColumnRenamed("path", "k")
          .drop("cell")
        geo.join(stats, "k").drop("k")
          .orderBy(col("path"), col("frame_idx"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 16 + doc_id % 17 AS w, 12 + doc_id % 13 AS h,
             |         2 + doc_id % 5 AS nf
             |  FROM documents WHERE doc_id < 40),
             |f AS (
             |  SELECT doc_id, w, h, g.i AS fi,
             |         (doc_id * 37 + g.i * 53) % 200 AS gray
             |  FROM d, UNNEST(range(0, nf)) AS g(i))
             |SELECT '/vid/' || doc_id AS path, CAST(fi AS INT) AS frame_idx,
             |       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
             |       CAST(gray * w * h AS BIGINT) AS r_sum,
             |       CAST(gray * w * h AS BIGINT) AS g_sum,
             |       CAST(gray * w * h AS BIGINT) AS b_sum
             |FROM f ORDER BY path, frame_idx""".stripMargin)),

    // Frame-level dedup finds a RE-CUT clip: video 1000+id carries the
    // SAME footage as video id shifted one frame (gray level is linear
    // in 37·seed + 53·f mod 200, and 169 ≡ 53·37⁻¹, so seed id+169 at
    // frame f reproduces seed id at frame f+1 exactly) — byte-level
    // video dedup can never see this (different GIF streams), but
    // exact frame-feature dedup over the decoded frames must pair
    // frame f of the re-cut with frame f+1 of the original AND nothing
    // else: the dims formula isolates ids mod 15, and within a twin
    // pair the shift equation has the single solution the oracle
    // enumerates. Pair generation is the capped groupBy-bucket shape
    // every dedup here uses (slim (key, fid) rows, fan-out bounded).
    QueryDef(
      "mm_video_dedup",
      (s, d) => {
        import s.implicits._
        val payloads = Tables.documents(s, d).filter(col("doc_id") < 12)
          .select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { id =>
            val w = 12 + (id % 5).toInt * 2
            val h = 10 + (id % 3).toInt * 2
            val nf = 3 + (id % 3).toInt
            Iterator(
              ("/vid/" + id, Multimodal.syntheticGif(id, w, h, nf)),
              ("/vid/" + (1000 + id),
                Multimodal.syntheticGif(id + 169, w, h, nf)))
          })
          .toDF("path", "data")
        val frames = Multimodal.videoFrames(payloads)
        val geo = frames.select(
          concat(col("path"), lit("#"), col("frame_idx")).as("k"),
          col("path"), col("frame_idx"), col("width"), col("height"))
        val stats = Multimodal.featureGrid(
            frames.select(
              concat(col("path"), lit("#"), col("frame_idx")).as("path"),
              col("frame").as("data")),
            grid = 1)
          .withColumnRenamed("path", "k")
        val keyed = geo.join(stats, "k")
          .select(
            (expr("CAST(substring(path, 6) AS BIGINT)") * 1000 +
              col("frame_idx")).as("fid"),
            col("width"), col("height"),
            col("r_sum"), col("g_sum"), col("b_sum"))
        LshGuard.pairsFromIdBuckets(
            keyed.groupBy(col("width"), col("height"),
                col("r_sum"), col("g_sum"), col("b_sum"))
              .agg(sort_array(collect_list(col("fid"))).as("ids")),
            cap = 1000, kind = "vframe")
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, 3 + doc_id % 3 AS nf
             |  FROM documents WHERE doc_id < 12),
             |f AS (
             |  SELECT doc_id, g.i AS fi
             |  FROM d, UNNEST(range(0, nf - 1)) AS g(i))
             |SELECT doc_id * 1000 + fi + 1 AS id_a,
             |       (1000 + doc_id) * 1000 + fi AS id_b
             |FROM f ORDER BY id_a, id_b""".stripMargin)),

    // ── Gopher-style rule batteries (round-14 additions) ────────────────

    // Published-threshold quality rules: one boolean per rule + the
    // conjunction, so curation reports per-rule kill counts. Bounds are
    // corpus-calibrated (word counts span 10–99 here); the rule SHAPE
    // is the operator.
    QueryDef(
      "text_gopher_rules",
      (s, d) => TextAnalysis.gopherRules(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |         CAST(LEN(toks) AS BIGINT) AS n_words,
             |         ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE) / LEN(toks), 4) AS mean_word_len,
             |         ROUND(CAST(LEN(list_filter(toks, w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE) / LEN(toks), 6) AS alpha_frac,
             |         CAST(LEN(list_filter(['the','be','to','of','and','that','have','with'], x -> list_contains(toks, x))) AS BIGINT) AS stop_hits
             |  FROM t)
             |SELECT doc_id, n_words, mean_word_len, alpha_frac, stop_hits,
             |       (n_words >= 25 AND n_words <= 80) AS r_word_count,
             |       (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS r_mean_len,
             |       (alpha_frac >= 0.8) AS r_alpha,
             |       (stop_hits >= 1) AS r_stopwords,
             |       (n_words >= 25 AND n_words <= 80
             |        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             |        AND alpha_frac >= 0.8 AND stop_hits >= 1) AS gopher_ok
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Char-mass repetition battery: top-{2,3,4}-gram and dup-{5,6}-gram
    // character fractions. "Heaviest gram" is MAX(count × char mass) —
    // a pure Long max, no most-frequent tiebreak ambiguity.
    QueryDef(
      "text_gopher_repetition",
      (s, d) => TextAnalysis.gopherRepetition(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, n,
             |         array_to_string(list_slice(toks, i, i + n - 1), ' ') AS gram
             |  FROM t, UNNEST([1, 2, 3, 4, 5, 6]) AS u(n),
             |       UNNEST(range(1, len(toks) - n + 2)) AS r(i)),
             |c AS (
             |  SELECT doc_id, n, gram, COUNT(*) AS cnt,
             |         (LENGTH(gram) - (n - 1)) AS gmass
             |  FROM g GROUP BY ALL),
             |a AS (
             |  SELECT doc_id,
             |         CAST(SUM(CASE WHEN n = 1 THEN cnt * gmass END) AS BIGINT) AS n_token_chars,
             |         MAX(CASE WHEN n = 2 THEN cnt * gmass END) AS t2,
             |         MAX(CASE WHEN n = 3 THEN cnt * gmass END) AS t3,
             |         MAX(CASE WHEN n = 4 THEN cnt * gmass END) AS t4,
             |         SUM(CASE WHEN n = 5 AND cnt >= 2 THEN cnt * gmass END) AS d5,
             |         SUM(CASE WHEN n = 6 AND cnt >= 2 THEN cnt * gmass END) AS d6
             |  FROM c GROUP BY doc_id)
             |SELECT doc_id, n_token_chars,
             |       COALESCE(ROUND(CAST(t2 AS DOUBLE) / NULLIF(n_token_chars, 0), 6), 0.0) AS top_2gram_char_frac,
             |       COALESCE(ROUND(CAST(t3 AS DOUBLE) / NULLIF(n_token_chars, 0), 6), 0.0) AS top_3gram_char_frac,
             |       COALESCE(ROUND(CAST(t4 AS DOUBLE) / NULLIF(n_token_chars, 0), 6), 0.0) AS top_4gram_char_frac,
             |       COALESCE(ROUND(CAST(d5 AS DOUBLE) / NULLIF(n_token_chars, 0), 6), 0.0) AS dup_5gram_char_frac,
             |       COALESCE(ROUND(CAST(d6 AS DOUBLE) / NULLIF(n_token_chars, 0), 6), 0.0) AS dup_6gram_char_frac
             |FROM a ORDER BY doc_id""".stripMargin)),

    // C4-style line/page cleaning battery (Raffel et al. 2020 §2.2) on
    // deterministically injected line structure (see c4Injected): line
    // gates = terminal punctuation + >=3 words + no "javascript"; page
    // gates = no "lorem ipsum"/curly brace + >=3 surviving lines.
    QueryDef(
      "text_c4_filters",
      (s, d) => TextAnalysis.c4Filters(c4Injected(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |inj AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    coalesce(array_to_string(t[1:8], ' '), '') || '.',
             |    coalesce(array_to_string(t[9:16], ' '), ''),
             |    'nav menu javascript links.',
             |    'ok.',
             |    coalesce(array_to_string(t[17:26], ' '), '') || ' done.',
             |    CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit.' END,
             |    CASE WHEN doc_id % 17 = 0 THEN 'template { x }' END,
             |    coalesce(array_to_string(t[27:36], ' '), '') || ' end!') AS text
             |  FROM tk),
             |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj),
             |lines AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos, ls[CAST(i AS INT)] AS line
             |  FROM l0, UNNEST(range(1, len(ls) + 1)) AS u(i)),
             |fl AS (
             |  SELECT doc_id, pos, line,
             |         (regexp_matches(line, '[.!?"]$')
             |          AND len(regexp_extract_all(lower(line), '\w+')) >= 3
             |          AND NOT contains(lower(line), 'javascript')) AS keep_line,
             |         (contains(lower(line), 'lorem ipsum')
             |          OR contains(line, '{')) AS poison
             |  FROM lines),
             |agg AS (
             |  SELECT doc_id,
             |         CAST(COUNT(*) AS BIGINT) AS n_lines,
             |         CAST(SUM(CASE WHEN keep_line THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |         bool_or(poison) AS poisoned,
             |         string_agg(CASE WHEN keep_line THEN line END, chr(10) ORDER BY pos) AS kept_text
             |  FROM fl GROUP BY 1)
             |SELECT doc_id, n_lines, n_kept,
             |       (NOT poisoned AND n_kept >= 3) AS page_ok,
             |       CASE WHEN NOT poisoned AND n_kept >= 3
             |            THEN coalesce(kept_text, '') ELSE '' END AS cleaned
             |FROM agg ORDER BY doc_id""".stripMargin)),

    // HTML -> text extraction (the pre-filter step of every web
    // pipeline) on injected markup: script/style/comments vanish whole,
    // tags strip, entities decode (&amp; last — the &amp;lt;
    // double-decode trap is planted and must survive as literal "&lt;"
    // ... decoded exactly once to "<"), whitespace collapses.
    QueryDef(
      "text_html_extract",
      (s, d) => TextAnalysis.stripHtml(htmlInjected(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |inj AS (
             |  SELECT doc_id,
             |         '<html><head><style type="text/css">body { color: red; }</style><script>var x = 1 < 2; // noise' || chr(10) ||
             |         '</script></head><body><!-- crawl comment' || chr(10) ||
             |         ' id ' || doc_id || ' --><h1>Doc ' || doc_id || '</h1><p>' ||
             |         coalesce(array_to_string(t[1:5], ' '), '') ||
             |         ' <b>' || coalesce(array_to_string(t[6:10], ' '), '') || '</b> ' ||
             |         coalesce(array_to_string(t[11:1010], ' '), '') ||
             |         '</p><div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; &#39;s&#39;&nbsp;and &amp;lt; stays &#x27;h&#039; &rsquo;r&#8217; &ndash;n&#x2013; &#8212;m&mdash; dots&hellip; &#169;&copy; &amp;#60; and &#038;lt; stay</div></body></html>' AS text
             |  FROM tk),
             |st AS (
             |  SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars_raw,
             |         regexp_replace(
             |           regexp_replace(
             |             regexp_replace(
             |               regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             |               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             |             '(?s)<!--.*?-->', ' ', 'g'),
             |           '<[^>]+>', ' ', 'g') AS s
             |  FROM inj),
             |de AS (
             |  SELECT doc_id, n_chars_raw,
             |""".stripMargin + "         " + htmlDecodeSql + """ AS s
             |  FROM st)
             |SELECT doc_id, n_chars_raw,
             |       CAST(LENGTH(trim(regexp_replace(s, '[ \t\n\r]+', ' ', 'g'))) AS BIGINT) AS n_chars_text,
             |       trim(regexp_replace(s, '[ \t\n\r]+', ' ', 'g')) AS text
             |FROM de ORDER BY doc_id""".stripMargin)),

    // DSIR importance weights (hashed-bigram features, exact-integer
    // ratio analog of the log-likelihood ratio — see Curation.dsirScores)
    // with target = lang 'en'; the channel emits the top-50 resample by
    // per-bigram weight, doc_id tiebreak.
    QueryDef(
      "pipeline_dsir",
      (s, d) => Curation.dsirScores(Tables.documents(s, d),
          col("lang") === "en")
        .orderBy(col("avg_weight").desc, col("doc_id"))
        .limit(50),
      Some("""WITH t AS (
             |  SELECT doc_id, lang = 'en' AS tgt,
             |         regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |bg AS (SELECT doc_id, tgt,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |pb AS (SELECT doc_id, tgt,
             |              ('0x' || substring(md5(b), 1, 8))::BIGINT % 256 AS bk,
             |              CAST(COUNT(*) AS BIGINT) AS c
             |       FROM bg GROUP BY 1, 2, 3),
             |g AS (SELECT bk, SUM(c) AS cr,
             |             SUM(CASE WHEN tgt THEN c ELSE 0 END) AS ct
             |      FROM pb GROUP BY 1),
             |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |              CAST(SUM(c * (((ct + 1) * 1000000) // (cr + 1))) AS BIGINT) AS score
             |       FROM pb JOIN g USING (bk) GROUP BY 1)
             |SELECT doc_id, n_bigrams, score,
             |       CAST(score // n_bigrams AS BIGINT) AS avg_weight
             |FROM sc ORDER BY avg_weight DESC, doc_id LIMIT 50""".stripMargin)),

    // Token-budget selection: fill a 1000-token budget with the
    // highest-richness docs via the histogram cut (whole strata above
    // the threshold + a doc_id-ordered prefix of the one boundary
    // stratum) — see Curation.tokenBudgetSelect.
    QueryDef(
      "pipeline_token_budget",
      (s, d) => Curation.tokenBudgetSelect(
          Tables.documents(s, d).select(col("doc_id"),
            expr("size(array_distinct(regexp_extract_all(lower(text), " +
              "'\\\\w+', 0)))").cast("long").as("richness"),
            expr("size(regexp_extract_all(lower(text), '\\\\w+', 0))")
              .cast("long").as("n_tokens")),
          col("richness"), col("n_tokens"), budget = 1000L)
        .orderBy(col("score").desc, col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         CAST(len(list_distinct(regexp_extract_all(lower(text), '\w+'))) AS BIGINT) AS score,
             |         CAST(len(regexp_extract_all(lower(text), '\w+')) AS BIGINT) AS cost
             |  FROM documents),
             |h AS (SELECT score, SUM(cost) AS mass FROM t GROUP BY 1),
             |c AS (SELECT score,
             |             SUM(mass) OVER (ORDER BY score DESC
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM h),
             |thr AS (SELECT MIN(CASE WHEN cum <= 1000 THEN score END) AS tau_full,
             |               COALESCE(MAX(CASE WHEN cum <= 1000 THEN cum END), 0) AS used,
             |               MAX(CASE WHEN cum > 1000 THEN score END) AS tau_b
             |        FROM c),
             |fs AS (SELECT doc_id, score, cost FROM t, thr
             |       WHERE tau_full IS NOT NULL AND score >= tau_full),
             |bnd AS (SELECT doc_id, score, cost, used,
             |               SUM(cost) OVER (PARTITION BY score ORDER BY doc_id
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bcum
             |        FROM t, thr WHERE tau_b IS NOT NULL AND score = tau_b),
             |bs AS (SELECT doc_id, score, cost FROM bnd WHERE bcum <= 1000 - used)
             |SELECT doc_id, score, cost FROM fs
             |UNION ALL SELECT doc_id, score, cost FROM bs
             |ORDER BY score DESC, doc_id""".stripMargin)),

    // CCNet-style perplexity terciles: per language, ntile(3) over the
    // bigram-fluency ranking (head = most fluent). The fluency CTEs are
    // text_bigram_fluency's oracle verbatim — same score, same rounding.
    QueryDef(
      "pipeline_ccnet_buckets",
      (s, d) => Curation.ccnetBuckets(Tables.documents(s, d))
        .orderBy(col("lang"), col("bucket"), col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |bg AS (SELECT doc_id,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
             |cp AS (SELECT split_part(b, ' ', 1) AS w1,
             |              CAST(COUNT(*) AS BIGINT) AS cp
             |       FROM bg GROUP BY 1),
             |r AS (SELECT doc_id, CAST(cb.cb AS DOUBLE) / cp.cp AS r
             |      FROM bg JOIN cb USING (b)
             |      JOIN cp ON split_part(bg.b, ' ', 1) = cp.w1),
             |fl AS (SELECT doc_id,
             |              ROUND(CAST(SUM(CAST(r AS DECIMAL(28,8))) AS DOUBLE)
             |                    / COUNT(*), 6) AS fluency
             |       FROM r GROUP BY 1)
             |SELECT fl.doc_id, d.lang, fl.fluency,
             |       CAST(ntile(3) OVER (PARTITION BY d.lang
             |         ORDER BY fl.fluency DESC, fl.doc_id) AS INTEGER) AS bucket,
             |       CASE ntile(3) OVER (PARTITION BY d.lang
             |              ORDER BY fl.fluency DESC, fl.doc_id)
             |         WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             |         ELSE 'tail' END AS ppl_bucket
             |FROM fl JOIN documents d USING (doc_id)
             |ORDER BY lang, bucket, doc_id""".stripMargin)),

    // Exact RANGE (radius) similarity search — "everything at least
    // this similar", the top-k API's other half. Membership at the
    // gap-protected τ = 0.45 (the dedup_embedding_exact rule; measured
    // min |cos − τ| ≥ 2.3e-4 across sf0.001/0.01/0.1 for this query
    // slice — far above float-ulp reach), one corpus scan vs 200
    // broadcast queries, the filter applies map-side and nothing
    // shuffles.
    QueryDef(
      "ann_range_search",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.rangeSearch(emb.filter(col("vec_id") < 200), emb,
            tau = 0.45)
          .select(col("q_id"), col("neighbor_id"))
          .orderBy(col("q_id"), col("neighbor_id"))
      },
      Some("""SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id
             |FROM embeddings e, embeddings q
             |WHERE q.vec_id < 200 AND e.vec_id <> q.vec_id
             |  AND list_cosine_similarity(q.embedding, e.embedding) >= 0.45
             |ORDER BY q_id, neighbor_id""".stripMargin)),

    // Recall gate for the IVF-pruned range path (the 100 TB range-search
    // plan) against the exact one-scan twin — n_exact is
    // SQL-checkable, recall >= 0.9 and structural precision ride the
    // booleans (the dedup_embedding_recall pattern).
    QueryDef(
      "ann_range_ivf_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.rangeRecall(emb.filter(col("vec_id") < 200), emb,
          tau = 0.45, numCentroids = 16, floor = 0.9, nprobe = 8,
          corpusProbe = 2)
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
             |       TRUE AS recall_ok, TRUE AS precision_ok
             |FROM embeddings e, embeddings q
             |WHERE q.vec_id < 200 AND e.vec_id <> q.vec_id
             |  AND list_cosine_similarity(q.embedding, e.embedding) >= 0.45""".stripMargin)),

    // Persisted DSIR stats + pure-append ingest (the retrain-free
    // treatment the lexical/novelty/IVF indexes get): 90% of the corpus
    // builds the stats, 10% appends as a generation, and the increment
    // scores through the FOLDED stats — bit-identical to full-corpus
    // DSIR restricted to the increment, which is exactly what the
    // oracle computes.
    QueryDef(
      "pipeline_dsir_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-dsir-inc")
        try {
          Curation.saveDsirStats(docs.filter(col("doc_id") % 10 =!= 0),
            col("lang") === "en", dir.toString)
          Curation.appendToDsirStats(docs.filter(col("doc_id") % 10 === 0),
            col("lang") === "en", dir.toString)
          Curation.dsirScoresIndexed(s,
              docs.filter(col("doc_id") % 10 === 0), dir.toString)
            .orderBy(col("doc_id"))
            .localCheckpoint(true)
        } finally graft.PlanHygiene.deleteRecursively(dir)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang = 'en' AS tgt,
             |         regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |bg AS (SELECT doc_id, tgt,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |pb AS (SELECT doc_id, tgt,
             |              ('0x' || substring(md5(b), 1, 8))::BIGINT % 256 AS bk,
             |              CAST(COUNT(*) AS BIGINT) AS c
             |       FROM bg GROUP BY 1, 2, 3),
             |g AS (SELECT bk, SUM(c) AS cr,
             |             SUM(CASE WHEN tgt THEN c ELSE 0 END) AS ct
             |      FROM pb GROUP BY 1),
             |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |              CAST(SUM(c * (((ct + 1) * 1000000) // (cr + 1))) AS BIGINT) AS score
             |       FROM pb JOIN g USING (bk) GROUP BY 1)
             |SELECT doc_id, n_bigrams, score,
             |       CAST(score // n_bigrams AS BIGINT) AS avg_weight
             |FROM sc WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin)),

    // Learned quality classifier (the DCLM/LLaMA fastText-step analog):
    // exact-integer Naive Bayes over the DSIR hashed-bigram buckets —
    // trained on the 90% train slice under integer-exact heuristic
    // labels (n_words>=5 ∧ punct*10<chars ∧ stop*50>=n_words), scoring
    // EVERY doc incl. held-out. The fplog2 fixed-point log makes the
    // whole margin BIGINT, so weights, class-mass correction, score,
    // and the predicted flag all hash cross-engine. Completes the
    // selection family: heuristics → importance weights → classifier.
    QueryDef(
      "pipeline_nb_quality",
      (s, d) => Curation.nbQualityScores(
          Tables.documents(s, d), label = nbLabel,
          isTrain = col("doc_id") % 10 =!= 0)
        .orderBy(col("doc_id")),
      Some(nbQualityOracle(""))),

    // Retrain-free classifier inference through PERSISTED stats
    // generations: train counts land in TWO pure-append generations
    // (train slice split by doc_id parity), the held-out increment
    // scores through the folded index, and the oracle is the SAME
    // full-recompute SQL restricted to the increment — a stale weight,
    // a lost generation, or a broken fold is a red hash (the
    // dsir_incremental invariant carried to the classifier).
    QueryDef(
      "pipeline_nb_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-nb-inc")
        try {
          val isTrain = col("doc_id") % 10 =!= 0
          // generations tokenize ONLY their slice (the mask-inside-agg
          // form is for the batch path's exchange sharing; a persisted
          // generation's input is the slice itself — identical counts,
          // half the corpus passes)
          Curation.saveNbStats(
            docs.filter(isTrain && col("doc_id") % 2 === 0), nbLabel,
            lit(true), dir.toString)
          Curation.appendToNbStats(
            docs.filter(isTrain && col("doc_id") % 2 === 1), nbLabel,
            lit(true), dir.toString)
          Curation.nbScoresIndexed(s,
              docs.filter(col("doc_id") % 10 === 0), dir.toString)
            .orderBy(col("doc_id"))
            .localCheckpoint(true)
        } finally graft.PlanHygiene.deleteRecursively(dir)
      },
      Some(nbQualityOracle("WHERE d.doc_id % 10 = 0"))),

    // WITHIN-doc line self-dedup (the RefinedWeb intra-doc pass) on
    // injected within-doc repeats: the chorus (3×) and footer (2×)
    // collapse to their first occurrences, body lines and the unique
    // ref survive, original order preserved.
    QueryDef(
      "pipeline_intra_dedup",
      (s, d) => Dedup.dedupLinesWithinDoc(
          intraDupInjected(Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      Some("""WITH tk AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |inj AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    coalesce(array_to_string(t[1:10], ' '), ''),
             |    'subscribe to our newsletter',
             |    coalesce(array_to_string(t[11:20], ' '), ''),
             |    'subscribe to our newsletter',
             |    'all rights reserved',
             |    'subscribe to our newsletter',
             |    'all rights reserved',
             |    'ref ' || doc_id) AS text
             |  FROM tk),
             |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj),
             |lines AS (
             |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
             |         ls[CAST(i AS INT)] AS line
             |  FROM l0, UNNEST(range(1, len(ls) + 1)) AS u(i)),
             |firsts AS (
             |  SELECT doc_id, line, MIN(pos) AS pos
             |  FROM lines GROUP BY 1, 2)
             |SELECT f.doc_id,
             |       CAST(t.n_lines AS BIGINT) AS n_lines,
             |       CAST(COUNT(*) AS BIGINT) AS n_kept,
             |       string_agg(f.line, chr(10) ORDER BY f.pos) AS cleaned
             |FROM firsts f
             |JOIN (SELECT doc_id, len(ls) AS n_lines FROM l0) t USING (doc_id)
             |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)),

    // Crawl-level URL dedup on injected URLs. Even doc_ids carry a
    // NOISY url (uppercase scheme/host, default :443 port, utm params,
    // fragment) or its clean twin — both canonicalize identically, so
    // the group count proves every rule fires (base repeats mod 50 to
    // create real dup groups). Odd doc_ids carry the adversarial
    // shapes: a scheme-less relative URL (must pass through UNCHANGED,
    // never into a shared '://' sentinel), a protocol-relative
    // '//host/p' (ditto), a literal '&' in the path with no query
    // (must NOT collide with the distinct '...a?b' URL), and a literal
    // '?' inside a query value next to a utm param (value survives,
    // utm strips).
    QueryDef(
      "pipeline_url_dedup",
      (s, d) => {
        val b = col("doc_id") % 50
        val url = when(col("doc_id") % 2 === 0,
          when(col("doc_id") % 4 === 0,
            concat(lit("HTTPS://WWW.Site"), b % 7, lit(".COM:443/path/"), b,
              lit("/?utm_source=feed&id="), b, lit("&utm_campaign=x#sec")))
            .otherwise(
              concat(lit("https://www.site"), b % 7, lit(".com/path/"), b,
                lit("/?id="), b)))
          .when(col("doc_id") % 8 === 1,
            concat(lit("/local/path?id="), b))
          .when(col("doc_id") % 8 === 3,
            concat(lit("//cdn.site"), b % 7, lit(".com/asset/"), b))
          .when(col("doc_id") % 8 === 5,
            concat(lit("https://ex"), b % 7, lit(".com/a&b"), b))
          .otherwise(
            concat(lit("https://ex"), b % 7, lit(".com/p?x=a?b&utm_x=1&id="),
              b))
        Dedup.dedupByUrl(
            Tables.documents(s, d).withColumn("url", url), col("url"))
          .orderBy(col("canonical_url"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |         CASE
             |           WHEN doc_id % 4 = 0 THEN
             |             'HTTPS://WWW.Site' || (doc_id % 50) % 7 || '.COM:443/path/' ||
             |             doc_id % 50 || '/?utm_source=feed&id=' || doc_id % 50 ||
             |             '&utm_campaign=x#sec'
             |           WHEN doc_id % 2 = 0 THEN
             |             'https://www.site' || (doc_id % 50) % 7 || '.com/path/' ||
             |             doc_id % 50 || '/?id=' || doc_id % 50
             |           WHEN doc_id % 8 = 1 THEN
             |             '/local/path?id=' || doc_id % 50
             |           WHEN doc_id % 8 = 3 THEN
             |             '//cdn.site' || (doc_id % 50) % 7 || '.com/asset/' ||
             |             doc_id % 50
             |           WHEN doc_id % 8 = 5 THEN
             |             'https://ex' || (doc_id % 50) % 7 || '.com/a&b' ||
             |             doc_id % 50
             |           ELSE
             |             'https://ex' || (doc_id % 50) % 7 ||
             |             '.com/p?x=a?b&utm_x=1&id=' || doc_id % 50
             |         END AS url
             |  FROM documents),
             |parts AS (
             |  SELECT doc_id, url,
             |         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             |         lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
             |         regexp_extract(url, '^[A-Za-z]+://[^/?#]+(.*)$', 1) AS rest
             |  FROM u),
             |pq AS (
             |  SELECT doc_id, url, scheme, hostport,
             |         regexp_extract(regexp_replace(rest, '#.*$', ''),
             |                        '^([^?]*)', 1) AS path,
             |         regexp_extract(regexp_replace(rest, '#.*$', ''),
             |                        '^[^?]*\?(.*)$', 1) AS query
             |  FROM parts),
             |canon AS (
             |  SELECT doc_id,
             |         CASE WHEN scheme = '' OR hostport = '' THEN url ELSE
             |           scheme || '://' ||
             |           CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
             |                WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
             |                ELSE hostport END ||
             |           CASE WHEN qclean = '' THEN path
             |                ELSE path || '?' || qclean END
             |         END AS canonical_url
             |  FROM (SELECT *,
             |          regexp_replace(
             |            regexp_replace('&' || query, '&utm_[^&]*', '', 'g'),
             |            '^&', '') AS qclean
             |        FROM pq))
             |SELECT canonical_url, MIN(doc_id) AS first_doc,
             |       CAST(COUNT(*) AS BIGINT) AS n_copies
             |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin)),

    // Per-source duplication report — corpus-health counts a dedup run
    // publishes: docs, distinct contents, duplicates, rate.
    QueryDef(
      "dedup_source_rates",
      (s, d) => Dedup.dupRates(Tables.documents(s, d))
        .orderBy(col("source")),
      Some("""SELECT source,
             |       CAST(COUNT(*) AS BIGINT) AS n_docs,
             |       CAST(COUNT(DISTINCT sha256(coalesce(text, ''))) AS BIGINT)
             |         AS n_unique,
             |       CAST(COUNT(*) - COUNT(DISTINCT sha256(coalesce(text, '')))
             |         AS BIGINT) AS n_dup,
             |       ROUND(CAST(COUNT(*)
             |               - COUNT(DISTINCT sha256(coalesce(text, '')))
             |               AS DOUBLE) / COUNT(*), 6) AS dup_rate
             |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)),

    // The curation FUNNEL — per-document attrition report across the
    // three quality families (Gopher doc-stats, C4 line/page battery,
    // CCNet fluency terciles): which stage kills which doc, and the
    // final kept set (the conjunction). The report shape is the real
    // pipeline deliverable — stage kill counts are what a curation run
    // publishes. A doc missing from a stage's frame (no bigrams → no
    // fluency row) reads as failed-that-stage, never as vacuously kept.
    QueryDef(
      "pipeline_curation_funnel",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // gopherRules is a row-preserving PROJECTION of docs (one row
        // per doc_id, no aggregation), so it IS the base frame — the
        // previous shape joined it back onto a fourth bare docs scan,
        // paying one extra FileScan and one extra join for rows that
        // coincide by construction (r18, §2.4). The coalesce stays —
        // free per row — so the output schema keeps its exact shape.
        val g = TextAnalysis.gopherRules(docs)
          .select(col("doc_id"), col("gopher_ok"))
        val c = TextAnalysis.c4Filters(c4Injected(docs))
          .select(col("doc_id"), col("page_ok").as("c4_ok"))
        val p = Curation.ccnetBuckets(docs)
          .select(col("doc_id"), (col("bucket") <= 2).as("ppl_ok"))
        g
          .join(c, Seq("doc_id"), "left_outer")
          .join(p, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("gopher_ok"), lit(false)).as("gopher_ok"),
            coalesce(col("c4_ok"), lit(false)).as("c4_ok"),
            coalesce(col("ppl_ok"), lit(false)).as("ppl_ok"))
          .withColumn("kept",
            col("gopher_ok") && col("c4_ok") && col("ppl_ok"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         (LEN(toks) >= 25 AND LEN(toks) <= 80
             |          AND ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE) / LEN(toks), 4) >= 3.0
             |          AND ROUND(CAST(list_sum(list_transform(toks, w -> LENGTH(w))) AS DOUBLE) / LEN(toks), 4) <= 10.0
             |          AND ROUND(CAST(LEN(list_filter(toks, w -> regexp_matches(w, '^[a-z]+$'))) AS DOUBLE) / LEN(toks), 6) >= 0.8
             |          AND LEN(list_filter(['the','be','to','of','and','that','have','with'], x -> list_contains(toks, x))) >= 1) AS gopher_ok
             |  FROM tok),
             |inj AS (
             |  SELECT doc_id, concat_ws(chr(10),
             |    coalesce(array_to_string(toks[1:8], ' '), '') || '.',
             |    coalesce(array_to_string(toks[9:16], ' '), ''),
             |    'nav menu javascript links.',
             |    'ok.',
             |    coalesce(array_to_string(toks[17:26], ' '), '') || ' done.',
             |    CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit.' END,
             |    CASE WHEN doc_id % 17 = 0 THEN 'template { x }' END,
             |    coalesce(array_to_string(toks[27:36], ' '), '') || ' end!') AS text
             |  FROM tok),
             |l0 AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM inj),
             |lines AS (
             |  SELECT doc_id, ls[CAST(i AS INT)] AS line
             |  FROM l0, UNNEST(range(1, len(ls) + 1)) AS u(i)),
             |fl4 AS (
             |  SELECT doc_id,
             |         (regexp_matches(line, '[.!?"]$')
             |          AND len(regexp_extract_all(lower(line), '\w+')) >= 3
             |          AND NOT contains(lower(line), 'javascript')) AS keep_line,
             |         (contains(lower(line), 'lorem ipsum')
             |          OR contains(line, '{')) AS poison
             |  FROM lines),
             |c4 AS (
             |  SELECT doc_id,
             |         (NOT bool_or(poison)
             |          AND SUM(CASE WHEN keep_line THEN 1 ELSE 0 END) >= 3) AS c4_ok
             |  FROM fl4 GROUP BY 1),
             |bg AS (SELECT doc_id,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM tok),
             |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM bg GROUP BY 1),
             |cp AS (SELECT split_part(b, ' ', 1) AS w1,
             |              CAST(COUNT(*) AS BIGINT) AS cp
             |       FROM bg GROUP BY 1),
             |r AS (SELECT doc_id, CAST(cb.cb AS DOUBLE) / cp.cp AS r
             |      FROM bg JOIN cb USING (b)
             |      JOIN cp ON split_part(bg.b, ' ', 1) = cp.w1),
             |flu AS (SELECT doc_id,
             |               ROUND(CAST(SUM(CAST(r AS DECIMAL(28,8))) AS DOUBLE)
             |                     / COUNT(*), 6) AS fluency
             |        FROM r GROUP BY 1),
             |bkt AS (SELECT flu.doc_id,
             |               (ntile(3) OVER (PARTITION BY d.lang
             |                  ORDER BY flu.fluency DESC, flu.doc_id) <= 2) AS ppl_ok
             |        FROM flu JOIN documents d USING (doc_id))
             |SELECT d.doc_id,
             |       COALESCE(g.gopher_ok, false) AS gopher_ok,
             |       COALESCE(c4.c4_ok, false) AS c4_ok,
             |       COALESCE(bkt.ppl_ok, false) AS ppl_ok,
             |       (COALESCE(g.gopher_ok, false) AND COALESCE(c4.c4_ok, false)
             |        AND COALESCE(bkt.ppl_ok, false)) AS kept
             |FROM documents d
             |LEFT JOIN g USING (doc_id)
             |LEFT JOIN c4 USING (doc_id)
             |LEFT JOIN bkt USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // First-occurrence shingle novelty: fraction of a doc's distinct
    // 3-shingles first seen (min doc_id) in that doc. Docs with <3
    // tokens emit no row (the bigramFluency no-row precedent).
    QueryDef(
      "text_novelty",
      (s, d) => TextAnalysis.novelty(Tables.documents(s, d))
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                               for i in range(1, len(t)-1)])) AS sh
             |  FROM t),
             |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM g GROUP BY sh)
             |SELECT g.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
             |FROM g JOIN f USING (sh)
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // Canonical-pick CENTRALITY over the near-dup graph: 3 rounds of
    // integer-arithmetic PageRank (pure BIGINT ladder — float PageRank
    // sums in partition order and can never hash-check cross-engine)
    // on the same exact-Jaccard>=0.5 pair set the dedup channels pin.
    // The oracle re-derives the graph all-pairs and unrolls the three
    // rounds as CTEs, division for division.
    QueryDef(
      "dedup_pagerank",
      (s, d) =>
        Dedup.pagerankInt(
            Dedup.minhashPairs(Tables.documents(s, d), shingleN = 3,
              b = 8, r = 4, threshold = 0.5),
            iters = 3)
          .orderBy(col("doc_id")),
      Some(pagerankOracle(iters = 3))),

    // Retrain-free novelty ingest: history indexes its first-occurrence
    // relation once (80%), a first increment APPENDS (80→90%, one pass,
    // no history rewrite), and scoring the FINAL increment (90→100%)
    // through the index is bit-identical to full-corpus novelty
    // restricted to those docs — the text_search_incremental contract
    // on the novelty relation. The time-ordered split cutoffs are
    // computed from max(doc_id) in exact integer math on both sides.
    QueryDef(
      "text_novelty_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val mx = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
        val c1 = (mx + 1) * 8 / 10
        val c2 = (mx + 1) * 9 / 10
        val dir = java.nio.file.Files.createTempDirectory("graft-novelty-idx")
        try {
          TextAnalysis.saveNoveltyIndex(
            docs.filter(col("doc_id") < c1), dir.toString)
          TextAnalysis.appendToNoveltyIndex(
            docs.filter(col("doc_id") >= c1 && col("doc_id") < c2),
            dir.toString)
          TextAnalysis.noveltyWithIndex(s, dir.toString,
              docs.filter(col("doc_id") >= c2))
            .orderBy(col("doc_id"))
            .localCheckpoint(true) // materialize before the dir dies
        } finally graft.PlanHygiene.deleteRecursively(dir)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                               for i in range(1, len(t)-1)])) AS sh
             |  FROM t),
             |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM g GROUP BY sh),
             |cut AS (SELECT (MAX(doc_id) + 1) * 9 // 10 AS c2 FROM documents)
             |SELECT g.doc_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_shingles,
             |       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       ROUND(CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS novelty
             |FROM g JOIN f USING (sh), cut
             |WHERE g.doc_id >= cut.c2
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // Fuzzy (Jaccard-threshold) decontamination — the relative-overlap
    // gate next to pipeline_decontaminate's absolute shared-count one.
    // Same %10 bench split as the exact channel.
    QueryDef(
      "pipeline_decontaminate_fuzzy",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Decontaminate.fuzzyFlagged(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          n = 3, minJaccard = 0.02)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '\w+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |         unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |                               for i in range(1, len(t)-1)])) AS sh
             |  FROM t),
             |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
             |tr AS (SELECT * FROM g WHERE doc_id % 10 <> 0),
             |be AS (SELECT * FROM g WHERE doc_id % 10 = 0),
             |shared AS (
             |  SELECT tr.doc_id, be.doc_id AS bench_id, COUNT(*) AS c
             |  FROM tr JOIN be USING (sh) GROUP BY 1, 2),
             |j AS (
             |  SELECT s.doc_id, s.bench_id, c,
             |         CAST(c AS DOUBLE) / (a.n + b.n - c) AS jac
             |  FROM shared s
             |  JOIN sz a ON a.doc_id = s.doc_id
             |  JOIN sz b ON b.doc_id = s.bench_id)
             |SELECT doc_id, bench_id, CAST(c AS BIGINT) AS n_shared,
             |       ROUND(jac, 6) AS jaccard
             |FROM j WHERE jac >= 0.02
             |ORDER BY doc_id, bench_id""".stripMargin)),

    // MMR-diversified retrieval: greedy λ=0.5 rerank of the brute top-25
    // per query. The oracle unrolls the k=5 greedy stages as CTEs —
    // each stage excludes the selected union, max-joins the pair sims,
    // and picks the (mmr DESC, id ASC) argmax, exactly the op's loop.
    QueryDef(
      "ann_mmr",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.mmrTopK(emb.filter(col("vec_id") < 5), emb,
          k = 5, cand = 25, lambda = 0.5)
          .orderBy(col("q_id"), col("mmr_rank"))
      },
      Some(mmrOracle(k = 5, cand = 25))),

    // Streaming ANN-index ingest (seventeenth streaming channel): the
    // increment lands in 3 chunked micro-batches, each encodes against
    // frozen history-trained centroids into its own idempotent
    // batch=<id> partition; searches through the streamed index must be
    // IDENTICAL to a from-scratch batch build (the ann_incremental
    // equality gate, now with the ingest topology executed for real).
    QueryDef(
      "stream_ann_ingest",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val qs = emb.filter(col("vec_id") < 5)
        val hist = emb.filter(col("vec_id") % 10 =!= 0)
        // same (k, iters) as the drain's frozen quantizer —
        // deterministic training makes the two centroid sets identical
        val cents = Similarity.kmeansCentroids(hist, 16, 3)
        val merged = graft.streaming.EventsStream.annIngestAvailableNow(s, d)
        Similarity.identical(qs,
          Similarity.ivfTopKIndexed(qs, merged, cents, nprobe = 4, k = 5),
          Similarity.ivfTopKIndexed(qs,
            Similarity.assignBuckets(emb, cents), cents, nprobe = 4, k = 5),
          k = 5)
      },
      Some("""SELECT vec_id AS q_id, TRUE AS identical_ok
             |FROM embeddings WHERE vec_id < 5 ORDER BY q_id""".stripMargin)),

    // Streaming DSIR-stats ingest — the arrival-time form of
    // pipeline_dsir_incremental: each micro-batch commits its own
    // (bk, cr, ct) generation by idempotent gen-dir overwrite; readers
    // fold by summing, so the increment scored through the STREAMED
    // index is bit-identical to full-corpus DSIR restricted to the
    // increment — the same full-SQL oracle as the batch channel.
    QueryDef(
      "stream_dsir_ingest",
      (s, d) => graft.streaming.EventsStream.dsirIngestAvailableNow(s, d)
        .orderBy(col("doc_id")),
      Some("""WITH t AS (
             |  SELECT doc_id, lang = 'en' AS tgt,
             |         regexp_extract_all(lower(text), '\w+') AS toks
             |  FROM documents),
             |bg AS (SELECT doc_id, tgt,
             |              unnest([toks[i] || ' ' || toks[i+1]
             |                      for i in range(1, len(toks))]) AS b
             |       FROM t),
             |pb AS (SELECT doc_id, tgt,
             |              ('0x' || substring(md5(b), 1, 8))::BIGINT % 256 AS bk,
             |              CAST(COUNT(*) AS BIGINT) AS c
             |       FROM bg GROUP BY 1, 2, 3),
             |g AS (SELECT bk, SUM(c) AS cr,
             |             SUM(CASE WHEN tgt THEN c ELSE 0 END) AS ct
             |      FROM pb GROUP BY 1),
             |sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
             |              CAST(SUM(c * (((ct + 1) * 1000000) // (cr + 1))) AS BIGINT) AS score
             |       FROM pb JOIN g USING (bk) GROUP BY 1)
             |SELECT doc_id, n_bigrams, score,
             |       CAST(score // n_bigrams AS BIGINT) AS avg_weight
             |FROM sc WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin)),

    // Streaming classifier inference (19th streaming channel): the NB
    // quality classifier trains once from the train slice (persisted
    // stats — the frozen-model contract), then the increment streams
    // through in micro-batches, each scoring via the index and
    // committing its rows by idempotent gen=<batchId> overwrite. The
    // folded output must be bit-identical to the batch classifier
    // restricted to the increment — same full-recompute oracle as
    // pipeline_nb_incremental.
    QueryDef(
      "stream_nb_score",
      (s, d) => graft.streaming.EventsStream.nbScoreAvailableNow(s, d)
        .orderBy(col("doc_id")),
      Some(nbQualityOracle("WHERE d.doc_id % 10 = 0")))
  )

  /** DuckDB twin of `Dedup.pagerankInt`: generated because it needs one
    * CTE per iteration. Same exact BIGINT ladder — pr₀ = 10¹²,
    * share = pr // deg, pr' = 15·10¹⁰ + (85 · Σ shares) // 100 — over
    * the symmetric all-pairs Jaccard ≥ 0.5 edge set.
    */
  private def pagerankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT n.id,
         |         CAST(150000000000 + (85 * COALESCE(s.m, 0)) // 100
         |              AS BIGINT) AS pr
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.pr // d.deg) AS m
         |    FROM e JOIN pr${i - 1} p ON p.id = e.src
         |           JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
       |                        for i in range(1, len(t)-1)]) AS s
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '\\w+') AS t
       |        FROM documents)),
       |srt AS (SELECT doc_id, list_sort(s) AS s FROM sh),
       |pf AS (
       |  SELECT doc_id, unnest(s[1 : len(s) -
       |         CAST(ceil(0.5 * len(s)) AS INT) + 1]) AS tok
       |  FROM srt),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
       |p AS (
       |  SELECT id_a, id_b
       |  FROM cand JOIN srt sa ON sa.doc_id = cand.id_a
       |            JOIN srt sb ON sb.doc_id = cand.id_b
       |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |        (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
       |        >= 0.5),
       |e AS (
       |  SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |pr0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS pr FROM n),
       |$rounds
       |SELECT id AS doc_id, pr FROM pr$iters ORDER BY doc_id""".stripMargin
  }

  /** DuckDB twin of `Similarity.mmrTopK` (λ = 0.5): generated because
    * the greedy selection needs one CTE pair per rank. Stage i keeps
    * the candidates not yet selected, attaches max pair-sim to the
    * selected union, and picks the (0.5·score − 0.5·msim DESC, id ASC)
    * argmax — the op's driver loop, join for join.
    */
  private def mmrOracle(k: Int, cand: Int): String = {
    val stages = (2 to k).map { i =>
      s"""mmr$i AS (
         |  SELECT c.q_id, c.neighbor_id, c.score, MAX(p.s) AS msim
         |  FROM cand c
         |  JOIN p ON p.q_id = c.q_id AND p.x = c.neighbor_id
         |  JOIN selu${i - 1} su ON su.q_id = p.q_id AND su.neighbor_id = p.y
         |  WHERE NOT EXISTS (SELECT 1 FROM selu${i - 1} e
         |                    WHERE e.q_id = c.q_id AND e.neighbor_id = c.neighbor_id)
         |  GROUP BY 1, 2, 3),
         |sel$i AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |           ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY 0.5 * score - 0.5 * msim DESC, neighbor_id) AS rn
         |    FROM mmr$i) WHERE rn = 1),
         |selu$i AS (SELECT * FROM selu${i - 1}
         |           UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    val ranks = (1 to k).map(i =>
      s"SELECT q_id, neighbor_id, CAST($i AS INTEGER) AS mmr_rank FROM sel$i")
      .mkString("\nUNION ALL\n")
    s"""WITH scores AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
       |         list_cosine_similarity(q.embedding, e.embedding) AS score
       |  FROM embeddings e, embeddings q
       |  WHERE q.vec_id < 5 AND e.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT q_id, neighbor_id, score FROM (
       |    SELECT q_id, neighbor_id, score,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |             ORDER BY score DESC, neighbor_id) AS rn
       |    FROM scores)
       |  WHERE rn <= $cand),
       |p AS (
       |  SELECT a.q_id, a.neighbor_id AS x, b.neighbor_id AS y,
       |         list_cosine_similarity(ea.embedding, eb.embedding) AS s
       |  FROM cand a
       |  JOIN cand b ON a.q_id = b.q_id AND a.neighbor_id <> b.neighbor_id
       |  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
       |  JOIN embeddings eb ON eb.vec_id = b.neighbor_id),
       |sel1 AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY q_id
       |             ORDER BY score DESC, neighbor_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |selu1 AS (SELECT * FROM sel1),
       |$stages
       |$ranks
       |ORDER BY q_id, mmr_rank""".stripMargin
  }
}
