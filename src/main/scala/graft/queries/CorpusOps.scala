package graft.queries

import graft.Tables
import graft.ops.{QualityModel, Sketch, TokenBudget}
import org.apache.spark.sql.functions._

/** Corpus-curation queries: model-based quality filtering and
  * token-budget mixing — both with EXACT integer formulations so the
  * DuckDB oracle reproduces them bit-for-bit (milli-unit logits;
  * integral token budgets over an md5-shuffled order).
  */
object CorpusOps {
  import Catalog.{Entry, Q}

  // fasttext-style linear quality model: stopword-ish tokens vote for
  // "real prose", rare/garbage markers vote against. Milli-weights keep
  // the logit exact-integer on both engines.
  private val weights: Seq[(String, Long)] = Seq(
    "the" -> 400L, "and" -> 300L, "of" -> 250L, "to" -> 200L, "a" -> 150L,
    "in" -> 150L, "is" -> 100L, "der" -> 350L, "und" -> 300L, "le" -> 350L,
    "la" -> 300L, "et" -> 250L, "el" -> 350L, "los" -> 300L,
    "lorem" -> -800L, "ipsum" -> -800L, "click" -> -500L, "cookie" -> -500L)
  private val bias = -700L

  private val qualityModel: Q = (s, dir) =>
    QualityModel.scoreLinear(
      Tables.load(s, dir, "documents"), "doc_id", "text", weights.toMap, bias)
      .select(col("doc_id"), col("milli_logit"), col("kept"))
  private val qualityModelSql = {
    val values = weights.map { case (t, w) => s"('$t', ${w}::BIGINT)" }.mkString(", ")
    s"""WITH w(tok, mw) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS tok
       |  FROM documents WHERE trim(text) <> ''),
       |s AS (
       |  SELECT doc_id, sum(mw) AS sw FROM toks JOIN w ON toks.tok = w.tok
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST($bias + coalesce(s.sw, 0) AS BIGINT) AS milli_logit,
       |  ($bias + coalesce(s.sw, 0)) >= 0 AS kept
       |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin
  }

  // Token-budget mix: "4k chars of src0, everything of src1, a sliver
  // of src2" — deterministic md5 order, kept while the running total
  // is under budget (see ops.TokenBudget for the sliced scale plan;
  // the oracle is the plain window formulation).
  private val budgets = Map("src0" -> 4000L, "src1" -> 1000000L, "src2" -> 600L)

  private val tokenBudget: Q = (s, dir) =>
    TokenBudget.sample(
      Tables.load(s, dir, "documents").select("doc_id", "source", "n_chars"),
      keyCol = "doc_id", groupCol = "source", weightCol = "n_chars",
      budgets = budgets)
  private val tokenBudgetSql = {
    val cases = budgets.toSeq.sortBy(_._1)
      .map { case (g, b) => s"WHEN '$g' THEN ${b}::BIGINT" }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source, n_chars,
       |    md5(CAST(doc_id AS VARCHAR)) AS h,
       |    CASE source $cases ELSE NULL END AS budget
       |  FROM documents
       |  WHERE source IN (${budgets.keys.toSeq.sorted.map(g => s"'$g'").mkString(", ")})
       |    AND n_chars IS NOT NULL AND doc_id IS NOT NULL),
       |c AS (
       |  SELECT *, coalesce(sum(n_chars) OVER (
       |    PARTITION BY source ORDER BY h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM t)
       |SELECT doc_id, source, n_chars FROM c WHERE before < budget""".stripMargin
  }

  // Gopher quality-rule battery (ops.GopherRules): every threshold is
  // integer cross-multiplied, so the keep decision and each per-rule
  // flag hash-match across engines. Thresholds tuned to the synthetic
  // corpus so both outcomes occur (word counts span 10–99; only "the"
  // from the stop set exists in the vocabulary → minStopwords = 1).
  private val gopherT = graft.ops.GopherRules.Thresholds(
    minWords = 30, maxWords = 80, minStopwords = 1)

  private val gopher: Q = (s, dir) =>
    graft.ops.GopherRules.audit(
      Tables.load(s, dir, "documents"), "doc_id", "text", gopherT)

  private val gopherSql = {
    val stops = graft.ops.GopherRules.Stopwords
      .map(sw => s"CASE WHEN list_contains(lw, '$sw') THEN 1 ELSE 0 END")
      .mkString("\n       |        + ")
    s"""WITH s AS (
       |  SELECT doc_id,
       |    list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), w -> w <> '') AS ws,
       |    CAST(coalesce(len(text) - len(replace(text, '#', '')), 0) AS BIGINT)
       |      + CAST(coalesce((len(text) - len(replace(text, '...', ''))) / 3, 0) AS BIGINT)
       |      AS symbol_hits
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, symbol_hits,
       |    CAST(coalesce(len(ws), 0) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_aggregate(list_transform(ws, w -> len(w)), 'sum'), 0)
       |         AS BIGINT) AS char_sum,
       |    CAST(coalesce(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))), 0)
       |         AS BIGINT) AS alpha_words,
       |    CAST($stops AS BIGINT) AS stop_hits
       |  FROM (SELECT doc_id, ws, symbol_hits,
       |          list_transform(ws, w -> lower(w)) AS lw FROM s) t),
       |f AS (
       |  SELECT *,
       |    n_words >= ${gopherT.minWords} AND n_words <= ${gopherT.maxWords} AS ok_words,
       |    n_words > 0 AND char_sum >= ${gopherT.minMeanWordLen} * n_words
       |      AND char_sum <= ${gopherT.maxMeanWordLen} * n_words AS ok_mean_len,
       |    symbol_hits * ${gopherT.maxSymbolWordRatio._2} <=
       |      n_words * ${gopherT.maxSymbolWordRatio._1} AS ok_symbol,
       |    n_words > 0 AND alpha_words * ${gopherT.minAlphaWordFrac._2} >=
       |      n_words * ${gopherT.minAlphaWordFrac._1} AS ok_alpha,
       |    stop_hits >= ${gopherT.minStopwords} AS ok_stop
       |  FROM m)
       |SELECT doc_id, n_words, char_sum,
       |  CASE WHEN n_words > 0
       |       THEN round(CAST(char_sum AS DOUBLE) / CAST(n_words AS DOUBLE), 4)
       |  END AS mean_word_len,
       |  stop_hits, alpha_words, symbol_hits,
       |  ok_words, ok_mean_len, ok_symbol, ok_alpha, ok_stop,
       |  ok_words AND ok_mean_len AND ok_symbol AND ok_alpha AND ok_stop AS keep
       |FROM f""".stripMargin
  }

  // Temperature-rescaled language balancing (ops.Mixture.temperatureMix):
  // alpha = 0.5 (sqrt — correctly rounded IEEE, so every weight and md5
  // cut is bit-identical cross-engine), epoch cap 4. The oracle
  // recomputes the weights from the same counts with the same exact
  // operations and replays mixCorpora's epoch fan-out + md5 draw.
  private val tempMix: Q = (s, dir) =>
    graft.ops.Mixture.temperatureMix(
      Tables.load(s, dir, "documents").select("doc_id", "lang"),
      keyCol = "doc_id", groupCol = "lang", alpha = 0.5, maxEpochs = 4.0)
      .select(col("doc_id"), col("lang"), col("epoch"))

  private val tempMixSql =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents
      |           WHERE lang IS NOT NULL GROUP BY lang),
      |mx AS (SELECT max(n) AS nmax FROM c),
      |w AS (SELECT lang,
      |        least(sqrt(CAST(nmax AS DOUBLE) / CAST(n AS DOUBLE)), 4.0) AS wt
      |      FROM c, mx),
      |g AS (
      |  SELECT d.doc_id, d.lang,
      |    CAST(floor(wt) AS BIGINT) AS fw,
      |    printf('%08x', CAST(floor((wt - floor(wt)) * 4294967296.0) AS BIGINT)) AS cut
      |  FROM documents d JOIN w USING (lang)),
      |e AS (SELECT doc_id, lang, fw, cut, unnest(range(0, fw + 1)) AS epoch FROM g)
      |SELECT doc_id, lang, epoch FROM e
      |WHERE epoch < fw OR md5(doc_id || ':' || epoch) < cut""".stripMargin

  // C4 line-level cleaning (ops.C4Rules): the synthetic corpus has no
  // newlines or punctuation, so the harness tunes the structural knobs
  // (the word "line" separates lines; letter suffixes stand in for
  // terminal punctuation; "vector"/"dup" stand in for the blocklists)
  // — the rule machinery and the rewrite are exactly C4's. The spec
  // covers the published defaults on real newline/punctuation text.
  private val c4Conf = graft.ops.C4Rules.Rules(
    lineSep = "line", joinSep = "|",
    terminalMarkers = Seq("e", "t", "a"), minLineWords = 2,
    lineBlocklist = Seq("vector"), docBlocklist = Seq("dup"),
    minKeptLines = 2)

  private val c4: Q = (s, dir) =>
    graft.ops.C4Rules.audit(
      Tables.load(s, dir, "documents"), "doc_id", "text", c4Conf)

  private val c4Sql =
    """WITH s AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split_regex(text, 'line'),
      |                               l -> trim(l)), l -> l <> '') AS lines,
      |    coalesce(contains(lower(text), 'dup'), false) AS has_doc_block
      |  FROM documents),
      |k AS (
      |  SELECT doc_id, has_doc_block,
      |    CAST(coalesce(len(lines), 0) AS BIGINT) AS n_lines,
      |    list_filter(lines, l ->
      |      (ends_with(l, 'e') OR ends_with(l, 't') OR ends_with(l, 'a'))
      |      AND len(list_filter(string_split_regex(l, '\s+'), w -> w <> '')) >= 2
      |      AND NOT contains(lower(l), 'vector')) AS kept
      |  FROM s)
      |SELECT doc_id, n_lines,
      |  CAST(coalesce(len(kept), 0) AS BIGINT) AS kept_lines,
      |  has_doc_block,
      |  coalesce(len(kept), 0) >= 2 AND NOT has_doc_block AS keep,
      |  array_to_string(kept, '|') AS clean_text
      |FROM k""".stripMargin

  // DSIR importance selection (ops.Dsir): hashed unigram+bigram
  // features over 64 buckets, literal milli-nat bucket weights (a
  // model artifact, like the BPE merge table), deterministic top-k. The SQL is
  // GENERATED from the same map, so both engines score identically.
  private val dsirBuckets = 64
  private val dsirWeights: Map[Int, Long] =
    (0 until dsirBuckets).map(b => b -> ((b % 7) - 3) * 250L)
      .filter(_._2 != 0L).toMap
  private val dsirK = 60

  private val dsir: Q = (s, dir) =>
    graft.ops.Dsir.resampleTopK(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      dsirWeights, dsirBuckets, dsirK)

  private val dsirSql = {
    val values = dsirWeights.toSeq.sorted
      .map { case (b, mw) => s"($b, ${mw}::BIGINT)" }.mkString(", ")
    s"""WITH w(b, mw) AS (VALUES $values),
       |t AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN []::VARCHAR[]
       |         ELSE list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') END AS ts
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_concat(ts, list_transform(range(1, len(ts)),
       |                                   i -> ts[i] || ' ' || ts[i+1])) AS terms
       |  FROM t),
       |occ AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(u.term), 1, 15))::BIGINT % $dsirBuckets AS INT) AS b
       |  FROM f, unnest(f.terms) AS u(term)),
       |s AS (
       |  SELECT occ.doc_id, sum(w.mw) AS sw FROM occ JOIN w USING (b)
       |  GROUP BY occ.doc_id)
       |SELECT d.doc_id, CAST(coalesce(s.sw, 0) AS BIGINT) AS milli_weight
       |FROM documents d LEFT JOIN s USING (doc_id)
       |ORDER BY milli_weight DESC, md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
       |LIMIT $dsirK""".stripMargin
  }

  // The round's batteries composed end to end: Gopher word-level gate →
  // C4 line rewrite → exact-substring span dedup on the REWRITTEN text.
  // Every stage is exact, so the whole pipeline hash-matches.
  private val fullPrep: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents").select("doc_id", "text")
    val g = graft.ops.GopherRules.filterQuality(docs, "text", gopherT)
    val c = graft.ops.C4Rules.clean(g, "text", c4Conf)
    // audit pins its row-local document frame internally now, so the
    // Gopher+C4 chain upstream of it runs ONCE for all four of the
    // audit's consumers.
    graft.ops.SpanDedup.audit(c, "doc_id", "text", n = 3, minDocs = 2)
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        col("clean_text").as("final_text"))
  }

  private val fullPrepSql = {
    // the FULL Gopher battery, same construction as gopherSql — the
    // two oracles must agree on the gate semantics rule for rule
    val stops = graft.ops.GopherRules.Stopwords
      .map(sw => s"CASE WHEN list_contains(lw, '$sw') THEN 1 ELSE 0 END")
      .mkString("\n       |        + ")
    s"""WITH gs AS (
       |  SELECT doc_id, text,
       |    list_filter(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> ''), w -> w <> '') AS ws,
       |    CAST(coalesce(len(text) - len(replace(text, '#', '')), 0) AS BIGINT)
       |      + CAST(coalesce((len(text) - len(replace(text, '...', ''))) / 3, 0) AS BIGINT)
       |      AS symbol_hits
       |  FROM documents),
       |gm AS (
       |  SELECT doc_id, text, symbol_hits,
       |    CAST(coalesce(len(ws), 0) AS BIGINT) AS n_words,
       |    CAST(coalesce(list_aggregate(list_transform(ws, w -> len(w)), 'sum'), 0)
       |         AS BIGINT) AS char_sum,
       |    CAST(coalesce(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))), 0)
       |         AS BIGINT) AS alpha_words,
       |    CAST($stops AS BIGINT) AS stop_hits
       |  FROM (SELECT doc_id, text, ws, symbol_hits,
       |          list_transform(ws, w -> lower(w)) AS lw FROM gs) t),
       |gk AS (
       |  SELECT doc_id, text FROM gm
       |  WHERE n_words >= ${gopherT.minWords} AND n_words <= ${gopherT.maxWords}
       |    AND n_words > 0 AND char_sum >= ${gopherT.minMeanWordLen} * n_words
       |    AND char_sum <= ${gopherT.maxMeanWordLen} * n_words
       |    AND symbol_hits * ${gopherT.maxSymbolWordRatio._2} <=
       |        n_words * ${gopherT.maxSymbolWordRatio._1}
       |    AND alpha_words * ${gopherT.minAlphaWordFrac._2} >=
       |        n_words * ${gopherT.minAlphaWordFrac._1}
       |    AND stop_hits >= ${gopherT.minStopwords}),
       |c4s AS (
       |  SELECT doc_id,
       |    list_filter(list_transform(string_split_regex(text, 'line'),
       |                               l -> trim(l)), l -> l <> '') AS lines,
       |    coalesce(contains(lower(text), 'dup'), false) AS has_doc_block
       |  FROM gk),
       |c4k AS (
       |  SELECT doc_id,
       |    list_filter(lines, l ->
       |      (ends_with(l, 'e') OR ends_with(l, 't') OR ends_with(l, 'a'))
       |      AND len(list_filter(string_split_regex(l, '\\s+'), w -> w <> '')) >= 2
       |      AND NOT contains(lower(l), 'vector')) AS kept,
       |    has_doc_block
       |  FROM c4s),
       |c4c AS (
       |  SELECT doc_id, array_to_string(kept, '|') AS text
       |  FROM c4k WHERE len(kept) >= 2 AND NOT has_doc_block),
       |t AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
       |         ELSE list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') END AS ts
       |  FROM c4c),
       |tok AS (SELECT doc_id, r.p - 1 AS pos, ts[r.p] AS tok
       |        FROM t, unnest(range(1, len(ts) + 1)) AS r(p)),
       |g AS (SELECT doc_id, r.p - 1 AS pos,
       |        md5(array_to_string(list_slice(ts, r.p, r.p + 2), ' ')) AS gh
       |      FROM t, unnest(range(1, len(ts) - 1)) AS r(p)),
       |dup AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS nd
       |                        FROM g GROUP BY gh) WHERE nd >= 2),
       |st AS (SELECT g.doc_id, g.pos, 1 AS flag FROM g SEMI JOIN dup USING (gh)),
       |cov AS (
       |  SELECT tok.doc_id, tok.pos, tok.tok,
       |    max(coalesce(st.flag, 0)) OVER (PARTITION BY tok.doc_id ORDER BY tok.pos
       |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS c
       |  FROM tok LEFT JOIN st USING (doc_id, pos))
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(c) AS BIGINT) AS dup_tokens,
       |  string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE c = 0) AS final_text
       |FROM cov GROUP BY doc_id""".stripMargin
  }

  // Winnowing fingerprints (ops.Winnow): 4-gram hashes, window 8 —
  // every complete 8-gram window contributes its min hash; short docs
  // contribute their global min. Pure window algebra → hash-exact.
  private val winnow: Q = (s, dir) =>
    graft.ops.Winnow.fingerprints(
      Tables.load(s, dir, "documents"), "doc_id", "text", n = 4, w = 8)

  private val winnowSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR trim(text) = '' THEN []::VARCHAR[]
      |         ELSE list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') END AS ts
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, r.p - 1 AS pos,
      |    md5(array_to_string(list_slice(ts, r.p, r.p + 3), ' ')) AS gh
      |  FROM t, unnest(range(1, len(ts) - 2)) AS r(p)),
      |wnd AS (
      |  SELECT doc_id, gh,
      |    min(gh) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin,
      |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
      |                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wcnt
      |  FROM g),
      |complete AS (
      |  SELECT DISTINCT doc_id, wmin AS fingerprint FROM wnd WHERE wcnt = 8),
      |short AS (
      |  SELECT doc_id, min(gh) AS fingerprint FROM g
      |  GROUP BY doc_id HAVING count(*) < 8)
      |SELECT DISTINCT doc_id, fingerprint FROM (
      |  SELECT * FROM complete UNION ALL SELECT * FROM short)""".stripMargin

  // Corpus profile: the per-source/lang report every pipeline run
  // opens with — doc counts, char totals/means, null-text counts, with
  // ROLLUP subtotals and grand total. grouping_id disambiguates rollup
  // nulls from data nulls so the report is unambiguous whatever the
  // fixture holds. One pass, map-side combinable.
  private val profile: Q = (s, dir) =>
    graft.Tables.load(s, dir, "documents")
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("chars_total"),
        round(avg(col("n_chars")), 4).as("chars_mean"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_texts"),
        grouping_id().as("gid"))

  private val profileSql =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_total,
      |  round(avg(n_chars), 4) AS chars_mean,
      |  CAST(count(*) FILTER (text IS NULL) AS BIGINT) AS null_texts,
      |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
      |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin

  // Distinct-token accounting via mergeable HLL sketch artifacts
  // (ops.Sketch): per-source sketches fit once, the global row comes
  // from MERGING those sketches (union semantics — never a rescan),
  // and the gate ships exact counts + error-bound verdicts (sketch
  // internals can never hash-match another engine — the
  // q_approx_sketches convention). A broken fit OR a broken merge
  // flips a verdict and breaks the hash.
  private val distinctAccounting: Q = (s, dir) => {
    val docs = Tables.load(s, dir, "documents")
    val toks = docs.select(col("source"),
      explode(filter(split(trim(col("text")), "\\s+"), t => t =!= "")).as("tok"))
    val perSrc = Sketch.hllFit(toks, "tok", Seq("source"))
    val merged = Sketch.hllMerge(perSrc.withColumn("source", lit("ALL")),
      Seq("source"))
    val sketches = perSrc.unionByName(merged)
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("exact_tokens"))
      .unionByName(toks.agg(countDistinct(col("tok")).as("exact_tokens"))
        .withColumn("source", lit("ALL")))
    sketches.join(exact, Seq("source"))
      .select(col("source"), col("exact_tokens"),
        Sketch.hllWithinBound(col("hll"), col("exact_tokens")).as("est_ok"))
  }
  private val distinctAccountingSql =
    """WITH toks AS (
      |  SELECT source,
      |    unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> x <> '')) AS tok
      |  FROM documents)
      |SELECT source, exact_tokens, true AS est_ok FROM (
      |  SELECT source, count(DISTINCT tok) AS exact_tokens
      |  FROM toks GROUP BY source
      |  UNION ALL
      |  SELECT 'ALL' AS source, count(DISTINCT tok) AS exact_tokens
      |  FROM toks)""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("corpus_profile", profile, Some(profileSql)),
    Entry("corpus_distinct_accounting", distinctAccounting,
      Some(distinctAccountingSql)),
    Entry("text_quality_model", qualityModel, Some(qualityModelSql)),
    Entry("text_token_budget", tokenBudget, Some(tokenBudgetSql)),
    Entry("text_gopher_rules", gopher, Some(gopherSql)),
    Entry("text_temperature_mix", tempMix, Some(tempMixSql)),
    Entry("text_c4_rules", c4, Some(c4Sql)),
    Entry("text_dsir_topk", dsir, Some(dsirSql)),
    Entry("pipeline_quality_prep", fullPrep, Some(fullPrepSql)),
    Entry("text_winnow_fingerprint", winnow, Some(winnowSql)),
  )
}
