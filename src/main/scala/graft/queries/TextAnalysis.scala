package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (north star; absent from the reference, SURVEY.md §2.2):
  * token counting, quality scoring, language-ID heuristic, document
  * fingerprinting.
  *
  * All built from codegen'd built-ins + higher-order array functions — no
  * UDFs, so at 100 TB these stay inside WholeStageCodegen and scale as
  * embarrassingly-parallel per-row maps (zero shuffles except final agg).
  *
  * Determinism notes: ratios are single int/int IEEE divisions (exact same
  * bits in both engines); hashes are md5 hex strings (identical libraries);
  * token pipelines split on a literal space, matching the fixture's
  * space-separated text.
  */
object TextAnalysis {

  // ------------------------------------------------------------- q50
  // Token counting: whitespace tokens, distinct tokens, a BPE-ish subword
  // estimate (4 chars ≈ 1 token, ceil), avg token length.
  private val q50 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_unique"),
        ceil(length(col("text")) / lit(4.0)).cast("bigint").as("bpe_est"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(col("tokens"))).as("avg_token_len"))
      .orderBy(col("doc_id")),
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  len(list_distinct(string_split(text, ' '))) AS n_unique,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS avg_token_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q51
  // Quality scoring: stopword ratio, repetition ratio, length signal —
  // the heuristics a pretraining filter (Gopher/C4-style) computes.
  private val q51 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("n_stop", expr(
        "size(filter(tokens, t -> array_contains(array('the','a','of','and','to','in'), t)))"))
      .withColumn("n_unique", size(array_distinct(col("tokens"))))
      .select(
        col("doc_id"), col("lang"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
        (col("n_unique").cast("double") / col("n_tokens")).as("uniq_ratio"),
        when(col("n_tokens").between(50, 10000), 1.0).otherwise(0.0)
          .as("len_ok"))
      .orderBy(col("doc_id")),
    """SELECT doc_id, lang,
      |  CAST(len(list_filter(string_split(text, ' '),
      |    t -> list_contains(['the','a','of','and','to','in'], t))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stop_ratio,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS uniq_ratio,
      |  CASE WHEN len(string_split(text, ' ')) BETWEEN 50 AND 10000
      |       THEN 1.0 ELSE 0.0 END AS len_ok
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q52
  // Language-ID heuristic: stopword-list hits per candidate language,
  // first-match priority (en→de→es→fr), else 'und'. On this synthetic
  // English-vocabulary corpus it predicts 'en'/'und' — the shape of the
  // operator (marker-lexicon scoring) is what scales to real corpora.
  private val q52 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("hits_en", expr(
        "size(filter(tokens, t -> array_contains(array('the','a','of'), t)))"))
      .withColumn("hits_de", expr(
        "size(filter(tokens, t -> array_contains(array('der','die','das'), t)))"))
      .withColumn("hits_es", expr(
        "size(filter(tokens, t -> array_contains(array('el','la','los'), t)))"))
      .withColumn("hits_fr", expr(
        "size(filter(tokens, t -> array_contains(array('le','les','une'), t)))"))
      .withColumn("predicted",
        when(col("hits_en") >= greatest(col("hits_de"), col("hits_es"),
          col("hits_fr")) && col("hits_en") > 0, "en")
          .when(col("hits_de") >= greatest(col("hits_es"), col("hits_fr")) &&
            col("hits_de") > 0, "de")
          .when(col("hits_es") >= col("hits_fr") && col("hits_es") > 0, "es")
          .when(col("hits_fr") > 0, "fr")
          .otherwise("und"))
      .select(col("doc_id"), col("lang").as("labeled"), col("predicted"),
        (col("predicted") === col("lang")).cast("int").as("agree"))
      .orderBy(col("doc_id")),
    """WITH t AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS tokens FROM documents),
      |scored AS (
      |  SELECT doc_id, lang,
      |    len(list_filter(tokens, t -> list_contains(['the','a','of'], t))) AS hits_en,
      |    len(list_filter(tokens, t -> list_contains(['der','die','das'], t))) AS hits_de,
      |    len(list_filter(tokens, t -> list_contains(['el','la','los'], t))) AS hits_es,
      |    len(list_filter(tokens, t -> list_contains(['le','les','une'], t))) AS hits_fr
      |  FROM t)
      |SELECT doc_id, lang AS labeled,
      |  CASE
      |    WHEN hits_en >= greatest(hits_de, hits_es, hits_fr) AND hits_en > 0 THEN 'en'
      |    WHEN hits_de >= greatest(hits_es, hits_fr) AND hits_de > 0 THEN 'de'
      |    WHEN hits_es >= hits_fr AND hits_es > 0 THEN 'es'
      |    WHEN hits_fr > 0 THEN 'fr'
      |    ELSE 'und' END AS predicted,
      |  CAST(CASE
      |    WHEN hits_en >= greatest(hits_de, hits_es, hits_fr) AND hits_en > 0 THEN 'en'
      |    WHEN hits_de >= greatest(hits_es, hits_fr) AND hits_de > 0 THEN 'de'
      |    WHEN hits_es >= hits_fr AND hits_es > 0 THEN 'es'
      |    WHEN hits_fr > 0 THEN 'fr'
      |    ELSE 'und' END = lang AS INT) AS agree
      |FROM scored
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q53
  // Document fingerprinting: min-hash over rolling 3-token shingles
  // (winnowing's selection step) — one 32-hex fingerprint per doc.
  // Identical md5 implementations make the hex strings engine-portable.
  private val q53 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      // shared guarded shingle expression — same shingles as the dedup
      // pipeline by construction (TextExprs.shingles3); short docs get an
      // empty set → null fingerprint, matching the oracle's empty range
      .withColumn("shingles", expr(TextExprs.shingles3("tokens")))
      .select(col("doc_id"),
        expr("array_min(transform(shingles, s -> md5(s)))")
          .as("fingerprint"))
      .orderBy(col("doc_id")),
    """SELECT doc_id,
      |  list_min(list_transform(
      |    list_transform(range(1, len(string_split(text, ' ')) - 1),
      |      i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')),
      |    s -> md5(s))) AS fingerprint
      |FROM documents
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------ q145
  // Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
  // algorithm): slide a w=4 window over the doc's shingle hashes and
  // keep each window's MINIMUM; the distinct survivors are the
  // fingerprint set. The guarantee (every w consecutive shingles
  // contribute ≥1 fingerprint) is what q53's single global min lacks:
  // winnowing detects PARTIAL overlap — any shared run of w+2 tokens
  // shares a fingerprint — which is the contamination/plagiarism
  // primitive at document scale. Same 3-token shingle contract as the
  // dedup pipeline (TextExprs.shingles3 / q53's raw-split convention).
  //
  // Scale shape: pure per-row higher-order-function map — windows,
  // minima, dedup, and digest all run inside the row; ZERO shuffles
  // (the output sort is presentation). The fingerprint set (not the
  // shingle set) is what a cross-doc join would shuffle — ~1/w the
  // density, the reason MOSS scales.
  private val q145 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("sh", expr(
        s"""transform(${TextExprs.shingles3("tokens")},
           |  g -> cast(conv(substring(md5(g), 1, 8), 16, 10) as bigint))"""
          .stripMargin))
      .withColumn("sel", expr(
        """CASE WHEN size(sh) >= 4 THEN
          |  transform(sequence(0, size(sh) - 4),
          |    i -> array_min(slice(sh, i + 1, 4)))
          |WHEN size(sh) > 0 THEN array(array_min(sh))
          |ELSE array() END""".stripMargin))
      .withColumn("fps", sort_array(array_distinct(col("sel"))))
      .select(col("doc_id"),
        size(col("sh")).as("n_shingles"),
        size(col("fps")).as("n_fp"),
        expr("case when size(fps) > 0 then fps[0] else -1L end")
          .as("fp_min"),
        expr("case when size(fps) > 0 then element_at(fps, -1) else -1L end")
          .as("fp_max"),
        md5(expr("concat_ws(',', transform(fps, x -> cast(x as string)))"))
          .as("fp_digest"))
      .orderBy(col("doc_id")),
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
      |s AS (
      |  SELECT doc_id, list_transform(
      |    list_transform(range(1, len(tokens) - 1),
      |      i -> array_to_string(list_slice(tokens, i, i + 2), ' ')),
      |    g -> CAST('0x' || substring(md5(g), 1, 8) AS BIGINT)) AS sh
      |  FROM t),
      |w AS (
      |  SELECT doc_id, sh,
      |    CASE WHEN len(sh) >= 4 THEN
      |      list_transform(range(0, len(sh) - 3),
      |        i -> list_min(sh[i + 1 : i + 4]))
      |    WHEN len(sh) > 0 THEN [list_min(sh)]
      |    ELSE [] END AS sel
      |  FROM s),
      |f AS (
      |  SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles,
      |    list_sort(list_distinct(sel)) AS fps
      |  FROM w)
      |SELECT doc_id, n_shingles, CAST(len(fps) AS INT) AS n_fp,
      |  CASE WHEN len(fps) > 0 THEN fps[1]
      |       ELSE CAST(-1 AS BIGINT) END AS fp_min,
      |  CASE WHEN len(fps) > 0 THEN fps[len(fps)]
      |       ELSE CAST(-1 AS BIGINT) END AS fp_max,
      |  md5(COALESCE(array_to_string(fps, ','), '')) AS fp_digest
      |FROM f ORDER BY doc_id""".stripMargin)
  // ^ COALESCE: DuckDB's array_to_string([]) is NULL (md5 would be
  //   NULL) while Spark's concat_ws over [] is '' (md5('') digest) —
  //   a <3-token doc must digest identically in both engines

  // ------------------------------------------------------------ q146
  // Per-source lexical diversity (Gini–Simpson index): 1 − Σ p(term)²
  // — the "is this source template spam or real prose" gate of a
  // curation pipeline (crawl boilerplate collapses toward 0; diverse
  // text sits near 1). Deliberately Gini–Simpson rather than Shannon
  // entropy: the index is RATIONAL in the counts —
  //   gini_micro = 1e6·(T² − Σc²) div T²
  // — pure integer arithmetic both engines replay bit-for-bit (entropy
  // needs ln: 1-ulp engine-divergent, q77 precedent; the swap is one
  // line in production). Scale shape: one (source, term)-keyed count
  // agg with map-side partials, then a source-keyed fold of the count
  // table — T and Σc² both DERIVE from it (q92 trick), so the token
  // stream shuffles once. Headroom: 1e6·T² ≤ 2^63 up to T ≈ 3·10⁶
  // tokens/source; past that, DECIMAL sums (q01b trade-off).
  private val q146 = QueryDef.of(
    (s, d) => {
      val ct = Tables.documents(s, d)
        .select(col("source"),
          explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("term"))
        .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      ct.groupBy(col("source"))
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(expr("c * c")).as("s2"))
        .select(col("source"), col("n_tokens"), col("n_distinct"),
          expr("""(1000000L * (n_tokens * n_tokens - s2))
                 |  div greatest(n_tokens * n_tokens, 1L)""".stripMargin)
            .as("gini_micro"))
        .orderBy(col("source"))
    },
    """WITH toks AS (
      |  SELECT source, u.term FROM documents,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) u(term)),
      |ct AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
      |ag AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_distinct, CAST(SUM(c * c) AS BIGINT) AS s2
      |  FROM ct GROUP BY source)
      |SELECT source, n_tokens, n_distinct,
      |  CAST((1000000 * (n_tokens * n_tokens - s2))
      |    // greatest(n_tokens * n_tokens, 1) AS BIGINT) AS gini_micro
      |FROM ag ORDER BY source""".stripMargin)

  // ------------------------------------------------------------- q54
  // Corpus token frequencies, top-5 per language: the explode → aggregate
  // → windowed top-k shape (inverted-index / vocabulary building). At
  // scale the explode output never materializes — it streams into the
  // partial aggregation map-side; the shuffle carries (lang, token)
  // partial counts only.
  private val q54 = QueryDef.of(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token"))
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("lang"), col("rank"))
    },
    """WITH toks AS (
      |  SELECT lang, u.token AS token
      |  FROM documents, unnest(string_split(text, ' ')) AS u(token)),
      |counted AS (
      |  SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY lang, token),
      |ranked AS (
      |  SELECT lang, token, n,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank
      |  FROM counted)
      |SELECT lang, token, n, rank FROM ranked WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin)

  // ------------------------------------------------------------- q55
  // Deterministic hash sampling: ~10% of the corpus by md5(doc_id) —
  // reproducible across engines/runs/scales (rand() is not), the standard
  // way training pipelines carve held-out slices.
  private val q55 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("h", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int)"))
      .filter(col("h") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id")),
    """SELECT doc_id, lang, n_chars
      |FROM (SELECT *, CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS h
      |      FROM documents)
      |WHERE h % 10 = 0
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q56
  // Stratified balanced sample: first 20 docs per language in hash order
  // — equal-size per-stratum subsets for training-mix construction
  // (hash order ≈ uniform, deterministic; windowed top-N per stratum).
  private val q56 = QueryDef.of(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("h",
          md5(concat(lit("strat:"), col("doc_id").cast("string"))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select(col("lang"), col("doc_id"), col("rk"))
        .orderBy(col("lang"), col("rk"))
    },
    """SELECT lang, doc_id, rk
      |FROM (SELECT lang, doc_id,
      |        ROW_NUMBER() OVER (PARTITION BY lang
      |          ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |      FROM documents)
      |WHERE rk <= 20
      |ORDER BY lang, rk""".stripMargin)

  // ------------------------------------------------------------- q63
  // Term salience (log-free TF-IDF): per-document top-3 distinguishing
  // terms, scored tf×(N/df) = (n_dt·N)/(len_d·df_t). The log-free form is
  // deliberate: every factor is an exact integer < 2^53, so the score is
  // ONE IEEE division — bit-identical across engines (ln() is not
  // correctly-rounded in either). Shape: explode → (doc,term) counts →
  // term doc-frequencies → broadcast-joined back → per-doc top-k window.
  // At scale the shuffles carry (doc,term)/(term) count partials only.
  private val q63 = QueryDef.of(
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val terms = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // ONE token-stream explode: len_d = Σ_t n_dt and df_t = rows per
      // term are both derivable from the (doc, term) count frame, so
      // the corpus-sized explode+shuffle runs once and the two side
      // stats aggregate the much smaller pinned tf frame (r13 — the
      // old shape exploded the full token stream three times; at
      // 100 TB the explode IS the query's cost)
      val tf = graft.Resources.retain(
        terms.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("n_dt"))
          .localCheckpoint())
      val len = tf.groupBy(col("doc_id")).agg(sum(col("n_dt")).as("len_d"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
      val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("salience").desc, col("term"))
      tf.join(len, "doc_id").join(broadcast(df), "term").crossJoin(broadcast(n))
        .withColumn("salience",
          (col("n_dt") * col("n_docs")).cast("double") /
            (col("len_d") * col("df_t")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("salience"), col("rank"))
        .orderBy(col("doc_id"), col("rank"))
    },
    """WITH terms AS (
      |  SELECT doc_id, u.term FROM documents,
      |    unnest(string_split(text, ' ')) AS u(term)),
      |tf AS (SELECT doc_id, term, COUNT(*) AS n_dt FROM terms GROUP BY 1, 2),
      |len AS (SELECT doc_id, COUNT(*) AS len_d FROM terms GROUP BY 1),
      |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM terms GROUP BY 1),
      |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.n_dt * n.n_docs AS DOUBLE) / (len.len_d * df.df_t)
      |      AS salience
      |  FROM tf JOIN len USING (doc_id) JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY salience DESC, term) AS rank
      |  FROM scored)
      |SELECT doc_id, term, salience, rank FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin)

  // ------------------------------------------------------------- q66
  // Benchmark-contamination scan: which documents contain any of a fixed
  // probe-phrase set (decontamination against eval suites). The probe set
  // is tiny and BROADCAST; the corpus is scanned once, never shuffled —
  // the only viable layout when the corpus is 100 TB and the benchmark
  // suite is kilobytes.
  private val Probes = Seq("key agg row", "batch window spark",
    "slow fast table", "vector table fast", "stream customer group")
  private val q66 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val probes = Probes.toDF("probe")
      Tables.documents(s, d)
        .crossJoin(broadcast(probes))
        .filter(expr("contains(text, probe)"))
        .select(col("probe"), col("doc_id"), col("lang"))
        .orderBy(col("probe"), col("doc_id"))
    },
    s"""SELECT p.probe, doc_id, lang
       |FROM documents CROSS JOIN (VALUES ${Probes.map(p => s"('$p')").mkString(", ")}) AS p(probe)
       |WHERE contains(text, p.probe)
       |ORDER BY p.probe, doc_id""".stripMargin)

  // ------------------------------------------------------------- q67
  // Context-window chunking: 32-token windows, stride 16 — the packing
  // step that turns documents into training rows. One input row fans out
  // to ceil((len-32)/16)+1 chunks (bounded, deterministic); emitted as
  // (doc_id, chunk_idx, n_tokens, md5(chunk)) so the output stays
  // hash-comparable without shipping chunk bodies through the gate.
  private val q67 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n", size(col("toks")))
      // array_distinct barrier (chunk_idx is unique) — exploding a bare
      // lambda chain re-pays the transform per emitted row (see q73 note)
      .select(col("doc_id"), explode(expr(
        """array_distinct(transform(
          |  sequence(0, int(greatest(ceil((n - 32) / 16.0), 0))), i ->
          |  struct(i AS chunk_idx,
          |    size(slice(toks, i * 16 + 1, 32)) AS n_tokens,
          |    md5(concat_ws(' ', slice(toks, i * 16 + 1, 32))) AS chunk_md5)))"""
          .stripMargin)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.n_tokens"),
        col("c.chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx")),
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents)
      |SELECT doc_id, g.i AS chunk_idx,
      |  len(list_slice(toks, g.i * 16 + 1, g.i * 16 + 32)) AS n_tokens,
      |  md5(array_to_string(list_slice(toks, g.i * 16 + 1, g.i * 16 + 32), ' '))
      |    AS chunk_md5
      |FROM t CROSS JOIN generate_series(0, 31) AS g(i)
      |WHERE g.i <= greatest(CAST(ceil((n - 32) / 16.0) AS INT), 0)
      |ORDER BY doc_id, chunk_idx""".stripMargin)

  // ------------------------------------------------------------- q68
  // PII scan + redaction: regex detection of email / IPv4 / phone-shaped
  // spans, counts per class, and an md5 fingerprint of the REDACTED text
  // (the pretraining-pipeline shape: detect → replace with a class tag →
  // hash for downstream exact-dedup of the sanitized corpus). The fixture
  // corpus contains no PII by construction, so the scanned column embeds
  // deterministic doc_id-derived positives — every row exercises all
  // three detectors at every SF, and the oracle is exact.
  // Per-row regex maps: no shuffle, stays in codegen. At 100 TB this is
  // the same embarrassingly-parallel scan shape as q50-q53.
  private val EmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val Ipv4Re = "\\d+\\.\\d+\\.\\d+\\.\\d+"
  private val PhoneRe = "\\+1-555-\\d{4}"
  private val q68 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("scan_text", concat_ws(" ", col("text"),
        concat(lit("user"), col("doc_id"), lit("@example.com")),
        concat(lit("10.0."), pmod(col("doc_id"), lit(256)), lit(".7")),
        concat(lit("+1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))))
      .select(
        col("doc_id"),
        regexp_count(col("scan_text"), lit(EmailRe)).as("n_email"),
        regexp_count(col("scan_text"), lit(Ipv4Re)).as("n_ip"),
        regexp_count(col("scan_text"), lit(PhoneRe)).as("n_phone"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("scan_text"),
          EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>"))
          .as("redacted_md5"))
      .orderBy(col("doc_id")),
    s"""WITH scanned AS (
      |  SELECT doc_id,
      |    text || ' user' || doc_id || '@example.com' ||
      |    ' 10.0.' || (doc_id % 256) || '.7' ||
      |    ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      AS scan_text
      |  FROM documents)
      |SELECT doc_id,
      |  len(regexp_extract_all(scan_text, '$EmailRe')) AS n_email,
      |  len(regexp_extract_all(scan_text, '$Ipv4Re')) AS n_ip,
      |  len(regexp_extract_all(scan_text, '$PhoneRe')) AS n_phone,
      |  md5(regexp_replace(regexp_replace(regexp_replace(scan_text,
      |    '$EmailRe', '<EMAIL>', 'g'), '$Ipv4Re', '<IP>', 'g'),
      |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5
      |FROM scanned
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q69
  // Gopher-style quality gate: alpha-token fraction, mean word length,
  // max word length, and the composite keep/drop boolean a pretraining
  // filter applies (Rae et al. 2021 §A1.1 shape — thresholds are the
  // operator's dials, not the point). Pure per-row maps.
  private val q69 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("n_alpha", expr(
        "size(filter(tokens, t -> t rlike '^[a-z]+$'))"))
      .withColumn("alpha_frac",
        col("n_alpha").cast("double") / col("n_tokens"))
      .withColumn("mean_word_len",
        length(regexp_replace(col("text"), " ", "")).cast("double")
          / col("n_tokens"))
      .withColumn("max_word_len", expr(
        "array_max(transform(tokens, t -> length(t)))"))
      .select(col("doc_id"), col("alpha_frac"), col("mean_word_len"),
        col("max_word_len"),
        (col("n_tokens").between(10, 100000) &&
          col("alpha_frac") > 0.8 &&
          col("mean_word_len").between(2.0, 12.0)).as("gopher_keep"))
      .orderBy(col("doc_id")),
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS mean_word_len
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(list_filter(tokens,
      |    t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
      |    / n_tokens AS alpha_frac,
      |  mean_word_len,
      |  list_max(list_transform(tokens, t -> length(t))) AS max_word_len,
      |  (n_tokens BETWEEN 10 AND 100000
      |    AND CAST(len(list_filter(tokens,
      |      t -> regexp_full_match(t, '[a-z]+'))) AS DOUBLE)
      |        / n_tokens > 0.8
      |    AND mean_word_len BETWEEN 2.0 AND 12.0) AS gopher_keep
      |FROM t
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q70
  // Repetition ratio: duplicate-bigram and duplicate-trigram fractions —
  // the strongest single low-quality/generated-text signal in C4/Gopher
  // filtering. dup_frac = 1 − distinct/total over rolling n-grams; the
  // sequence() is guarded (Spark sequences run DESCENDING when end <
  // start — an ANSI index error otherwise, same hazard TextExprs
  // documents for shingles).
  private val q70 = QueryDef.of(
    (s, d) => Tables.documents(s, d)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("bigrams", expr(
        """CASE WHEN size(tokens) >= 2 THEN
          |  transform(sequence(0, size(tokens) - 2),
          |    i -> concat_ws(' ', tokens[i], tokens[i+1]))
          |ELSE array() END""".stripMargin))
      .withColumn("trigrams", expr(TextExprs.shingles3("tokens")))
      .select(
        col("doc_id"),
        when(size(col("bigrams")) > 0,
          lit(1.0) - size(array_distinct(col("bigrams"))).cast("double")
            / size(col("bigrams"))).otherwise(0.0).as("dup_bigram_frac"),
        when(size(col("trigrams")) > 0,
          lit(1.0) - size(array_distinct(col("trigrams"))).cast("double")
            / size(col("trigrams"))).otherwise(0.0).as("dup_trigram_frac"))
      .orderBy(col("doc_id")),
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 2 THEN
      |      list_transform(generate_series(1, len(toks) - 1),
      |        i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END AS bigrams,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_transform(generate_series(1, len(toks) - 2),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [] END AS trigrams
      |  FROM t)
      |SELECT doc_id,
      |  CASE WHEN len(bigrams) > 0 THEN
      |    1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
      |  ELSE 0.0 END AS dup_bigram_frac,
      |  CASE WHEN len(trigrams) > 0 THEN
      |    1.0 - CAST(len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams)
      |  ELSE 0.0 END AS dup_trigram_frac
      |FROM g
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q73
  // Train/test decontamination: split the corpus deterministically
  // (md5-hash split, the q55 idiom — 80/20), then flag test documents
  // whose 3-token shingles overlap the train side — the decontamination
  // sweep an eval-set owner runs before training. Distinct from q66
  // (which scans for a FIXED probe-phrase list): here the "probes" are
  // the entire train corpus, so the check is a distributed shingle join.
  // Scale shape: both sides explode to (shingle, doc_id) — the shuffle
  // carries shingle strings + ids only, never documents; train shingles
  // dedupe before the join (map-side partials); at 100 TB you'd md5 the
  // shingles to fix the key width and bucket both sides — same plan,
  // narrower keys. Docs with <3 tokens have no shingles and drop out
  // identically in both engines.
  private val q73 = QueryDef.of(
    (s, d) => {
      val t = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("sh", expr(TextExprs.shingles3("toks")))
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int)"))
      // explode(array_distinct(...)), never explode(transform-chain):
      // CollapseProject folds the shingle-building lambda INTO the
      // generator, where it re-evaluates per emitted row — measured 7.1 s
      // vs 0.45 s at sf0.1. array_distinct is a cheap barrier that also
      // shrinks the exploded row count.
      val train = t.filter(col("h") % 10 < 8)
        .select(explode(array_distinct(col("sh"))).as("shingle")).distinct()
        .withColumn("hit", lit(1))
      // single pass over the test side: left-join the marked train set,
      // then ONE aggregate yields both the per-doc total (count of all
      // exploded shingles) and the shared count (count of join hits) —
      // no second corpus scan for totals, no totals-vs-shared join.
      // The left join is 1:1 at most (train is distinct), so no fan-out.
      val test = t.filter(col("h") % 10 >= 8)
        .select(col("doc_id"), explode(array_distinct(col("sh"))).as("shingle"))
      test.join(train, Seq("shingle"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          (col("n_shared").cast("double") / col("n_shingles"))
            .as("overlap_frac"),
          (col("n_shared").cast("double") / col("n_shingles") >= 0.5)
            .as("contaminated"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |      list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
      |        i -> string_split(text, ' ')[i] || ' ' ||
      |             string_split(text, ' ')[i+1] || ' ' ||
      |             string_split(text, ' ')[i+2])
      |    ELSE [] END AS sh,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS h
      |  FROM documents),
      |train AS (
      |  SELECT DISTINCT shingle FROM (
      |    SELECT unnest(sh) AS shingle FROM t WHERE h % 10 < 8)),
      |test AS (
      |  SELECT doc_id, unnest(list_distinct(sh)) AS shingle
      |  FROM t WHERE h % 10 >= 8),
      |totals AS (
      |  SELECT doc_id, CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
      |  FROM t WHERE h % 10 >= 8 AND len(list_distinct(sh)) > 0),
      |shared AS (
      |  SELECT test.doc_id, COUNT(*) AS n_shared
      |  FROM test JOIN train USING (shingle) GROUP BY test.doc_id)
      |SELECT totals.doc_id AS doc_id, n_shingles,
      |  COALESCE(n_shared, 0) AS n_shared,
      |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_shingles AS overlap_frac,
      |  CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_shingles >= 0.5
      |    AS contaminated
      |FROM totals LEFT JOIN shared ON totals.doc_id = shared.doc_id
      |ORDER BY totals.doc_id""".stripMargin)

  // ------------------------------------------------------------- q74
  // Sequence packing (concat-and-split): the pre-training batching op —
  // concatenate every document's tokens within a shard and cut the stream
  // every 512 tokens. Reports per-shard packing stats: sequence count,
  // fill fraction of the (partial) last sequence, and how many documents
  // straddle a cut boundary (those need cross-sequence attention masking).
  // Scale shape: the running sum is windowed PER SHARD — shards are
  // independent, so at 100 TB you raise the shard count to the cluster's
  // parallelism and each shard's cumsum is a single sorted partition
  // stream; nothing is global. All math is integer (ceil-div via
  // (x+511) div 512); the one ratio is a single IEEE division.
  private val q74 = QueryDef.of(
    (s, d) => {
      val t = Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) % 32")
          .as("shard"))
      val cum = t.withColumn("cum", sum(col("n")).over(
        Window.partitionBy(col("shard")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.groupBy(col("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          max(col("cum")).as("n_tokens"),
          expr("(max(cum) + 511) div 512").as("n_sequences"),
          expr("sum((cum - 1) div 512 - (cum - n) div 512)").as("n_crossings"))
        .withColumn("fill_frac",
          col("n_tokens").cast("double") / (col("n_sequences") * lit(512)))
        .orderBy(col("shard"))
    },
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
      |      % 32 AS shard
      |  FROM documents),
      |w AS (
      |  SELECT shard, n, SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM t),
      |g AS (
      |  SELECT shard,
      |    COUNT(*) AS n_docs,
      |    MAX(cum) AS n_tokens,
      |    (MAX(cum) + 511) // 512 AS n_sequences,
      |    SUM((cum - 1) // 512 - (cum - n) // 512) AS n_crossings
      |  FROM w GROUP BY shard)
      |SELECT shard, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_sequences AS BIGINT) AS n_sequences,
      |  CAST(n_crossings AS BIGINT) AS n_crossings,
      |  CAST(n_tokens AS DOUBLE) / (n_sequences * 512) AS fill_frac
      |FROM g ORDER BY shard""".stripMargin)

  // ------------------------------------------------------------- q75
  // Inverted-index build: token → (df, total tf, capped posting list of
  // per-doc stats) — the search/BM25 index-construction op. Scale shape:
  // occurrences pre-aggregate per (token, doc) FIRST (map-side partials
  // shrink "the"-sized token groups to one row per doc before anything
  // is collected), df/tf come from that compact frame, and the posting
  // array is capped at 64 entries via a rank filter BEFORE collect_list —
  // no unbounded array ever materializes, unlike a naive
  // collect-then-slice. Postings serialize to an ordered string so the
  // output is hash-stable.
  private val q75 = QueryDef.of(
    (s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .filter(col("token") =!= "")
      val perDoc = tok.groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf_d"), min(col("pos")).as("first_pos"))
      val stats = perDoc.groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("tf_d")).as("tf"))
      val top = perDoc
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("token")).orderBy(col("doc_id"))))
        .filter(col("rn") <= 64)
        .groupBy(col("token"))
        .agg(sort_array(collect_list(struct(
          col("doc_id"), col("tf_d"), col("first_pos")))).as("p"))
      stats.join(top, Seq("token"))
        .select(col("token"), col("df"), col("tf"),
          expr("""concat_ws(';', transform(p,
                 |  x -> concat_ws(':', x.doc_id, x.tf_d, x.first_pos)))"""
            .stripMargin).as("postings"))
        .orderBy(col("token"))
    },
    """WITH base AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |ex AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
      |    i -> {'token': toks[i], 'pos': i - 1})) AS u
      |  FROM base),
      |tok AS (
      |  SELECT doc_id, u.token AS token, u.pos AS pos
      |  FROM ex WHERE u.token <> ''),
      |perdoc AS (
      |  SELECT token, doc_id, COUNT(*) AS tf_d, MIN(pos) AS first_pos
      |  FROM tok GROUP BY token, doc_id),
      |stats AS (
      |  SELECT token, COUNT(*) AS df, CAST(SUM(tf_d) AS BIGINT) AS tf
      |  FROM perdoc GROUP BY token),
      |top AS (
      |  SELECT token, string_agg(
      |      doc_id || ':' || tf_d || ':' || first_pos, ';'
      |      ORDER BY doc_id) AS postings
      |  FROM (SELECT *, row_number() OVER (
      |          PARTITION BY token ORDER BY doc_id) AS rn FROM perdoc)
      |  WHERE rn <= 64 GROUP BY token)
      |SELECT token, df, tf, postings
      |FROM stats JOIN top USING (token) ORDER BY token""".stripMargin)

  // ------------------------------------------------------------- q76
  // Temperature-based mixture sampling: the data-mixing op — re-weight
  // per-language document counts by sqrt (temperature 0.5 flattening),
  // derive per-language target counts for a 1000-doc budget, then draw a
  // deterministic hash sample hitting those targets. Bit-exactness notes:
  // sqrt is IEEE-correctly-rounded in both engines; the cross-language
  // weight sum folds in sorted lang order on BOTH sides (Spark
  // `aggregate` over sort_array vs DuckDB list_reduce over
  // list(ORDER BY lang) — same strict left fold); the sampling predicate
  // is pure integer math (h * c < n_target * 2^32). Scale shape: the
  // per-lang table is tiny and broadcast; the corpus is scanned once and
  // never shuffled (the summary agg moves one row per lang per task).
  private val q76 = QueryDef.of(
    (s, d) => {
      val docs = Tables.documents(s, d)
      val lc = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
      val z = lc.agg(expr(
        """aggregate(sort_array(collect_list(struct(lang, c))),
          |  cast(0.0 as double), (acc, x) -> acc + sqrt(cast(x.c as double)))"""
          .stripMargin).as("z"))
      val tgt = lc.crossJoin(z)
        .withColumn("p", expr("sqrt(cast(c as double))") / col("z"))
        // epoch cap: never target more docs than a language has (at small
        // corpora the flattened share can exceed the group; a single-pass
        // sampler caps rather than redistributing the excess)
        .withColumn("n_target",
          least(floor(lit(1000) * col("p")).cast("long"), col("c")))
      val sampled = docs
        .withColumn("h", expr(
          "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)"))
        .join(broadcast(tgt.select(col("lang"), col("c"), col("n_target"))),
          Seq("lang"))
        .filter(col("h") * col("c") < col("n_target") * lit(4294967296L))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      tgt.join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("c").as("n_docs"), col("p").as("target_frac"),
          col("n_target"), coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("lang"))
    },
    """WITH lc AS (
      |  SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
      |z AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(list(c ORDER BY lang),
      |      x -> sqrt(CAST(x AS DOUBLE)))), (a, b) -> a + b) AS z
      |  FROM lc),
      |tgt AS (
      |  SELECT lang, c, sqrt(CAST(c AS DOUBLE)) / z AS p,
      |    LEAST(CAST(floor(1000 * (sqrt(CAST(c AS DOUBLE)) / z)) AS BIGINT),
      |      c) AS n_target
      |  FROM lc, z),
      |sampled AS (
      |  SELECT d.lang, COUNT(*) AS n_sampled
      |  FROM (SELECT lang,
      |          CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
      |            AS BIGINT) AS h
      |        FROM documents) d
      |  JOIN tgt ON d.lang = tgt.lang
      |  WHERE d.h * tgt.c < tgt.n_target * 4294967296
      |  GROUP BY d.lang)
      |SELECT tgt.lang AS lang, c AS n_docs, p AS target_frac, n_target,
      |  COALESCE(n_sampled, 0) AS n_sampled
      |FROM tgt LEFT JOIN sampled ON tgt.lang = sampled.lang
      |ORDER BY tgt.lang""".stripMargin)

  // ------------------------------------------------------------- q77
  // BM25 ranked retrieval: score a fixed query set against the corpus
  // and return top-10 docs per query — the eval/retrieval op that sits
  // on q75's inverted-index statistics. Scale shape: the query-term set
  // is kilobytes and BROADCAST into the per-(doc,term) tf frame, so the
  // only wide shuffles key on (doc, term)/(doc) — never on bodies; the
  // top-k is a per-query window over the (tiny) matched set.
  //
  // Bit-exactness: idf uses the raw Robertson–Sparck-Jones odds
  // (N - df + 0.5)/(df + 0.5) rather than its ln — Java Math.log and
  // DuckDB ln disagree by 1 ulp on ~0.1% of inputs (measured), so the
  // oracle pins the rational form; rankings are identical whenever
  // per-term idf ordering is all that matters, and the ln swap is one
  // line in production. Saturation term k1=1.2, b=0.75 is rational
  // arithmetic with identical literal parse and operation order on both
  // engines; the per-(query,doc) term sum folds in sorted term order on
  // both sides (same strict left fold as q76).
  /** The fixed BM25 eval query set — SHARED with q142's stage 1
    * (Retrieval.scala): one definition so the two rankings can never
    * drift. */
  private[queries] val BmQueries = Seq(
    (1, "spark window agg"), (2, "customer stream table"),
    (3, "vector hash join"))

  /** Shared per-(query, doc) BM25 score frame — the q77 contract
    * (rational RSJ idf, k1=1.2 / b=0.75, sorted-term strict left
    * fold), consumed by q77 (top-10 report) and q142's stage 1
    * (top-20 candidate set). Returns (query_id, doc_id, score,
    * n_hit). The matching oracle CTE block is [[bm25Ctes]] — change
    * BOTH or neither (the q92/q143 `lmScores` discipline). */
  /** Memoized per (session, corpus) and persisted — the BM25 score
    * table is an INDEX artifact (the scored inverted-index view a
    * production retrieval deploy materializes): q77 ranks it, q89
    * fuses it, q142 reranks from it, q162 evaluates it — four queries
    * over one corpus must not run the (doc, term) aggregate family
    * four times. Plain persist over parquet-rooted lineage (no
    * checkpoint). */
  private[graft] val bm25PerDoc = Artifact.frame("bm25") { (s, d) =>
    buildBm25PerDoc(s, d).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def buildBm25PerDoc(
      s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qterms = BmQueries.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
    val terms = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("n_dt"))
    // dl and df both DERIVE from tf — one row per distinct (doc,
    // term) — instead of re-shuffling the raw token stream: doc
    // length is the sum of its term counts, and document frequency
    // is tf's row count per term (tf is already distinct on (doc,
    // term), so no second explode+distinct pass exists anywhere).
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("n_dt")).as("dl"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val avg = dl.agg(sum(col("dl")).as("tot")).crossJoin(n)
      .select(col("n_docs"),
        (col("tot").cast("double") / col("n_docs")).as("avgdl"))
    val scoredTerms = tf
      .join(broadcast(qterms), Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfT.join(broadcast(qterms).select(col("term")).distinct(),
        Seq("term"))), Seq("term"))
      .crossJoin(broadcast(avg))
      .withColumn("w", expr(
        """((cast(n_docs as double) - cast(df_t as double) + 0.5) / (cast(df_t as double) + 0.5))
          | * ((cast(n_dt as double) * 2.2)
          |    / (cast(n_dt as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / avgdl))))"""
          .stripMargin))
    scoredTerms.groupBy(col("query_id"), col("doc_id"))
      .agg(expr(
        """aggregate(sort_array(collect_list(struct(term, w))),
          |  cast(0.0 as double), (acc, x) -> acc + x.w)""".stripMargin)
        .as("score"),
        count(lit(1)).as("n_hit"))
  }

  /** Oracle CTE block mirroring [[bm25PerDoc]]: defines q, terms, tf,
    * dl, df, n, avg, scored, and perdoc (query_id, doc_id, score,
    * n_hit). Shared by the q77 and q142 oracles. */
  private[queries] val bm25Ctes: String =
    s"""q AS (
       |  SELECT query_id, u.term FROM (VALUES ${BmQueries
          .map { case (i, t) => s"($i, '$t')" }.mkString(", ")}) v(query_id, qtext),
       |    unnest(string_split(qtext, ' ')) u(term)),
       |terms AS (
       |  SELECT doc_id, u.term FROM documents,
       |    unnest(string_split(text, ' ')) u(term) WHERE u.term <> ''),
       |tf AS (SELECT doc_id, term, COUNT(*) AS n_dt FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM terms GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |avg AS (SELECT n_docs, CAST(SUM(dl) AS DOUBLE) / n_docs AS avgdl
       |        FROM dl, n GROUP BY n_docs),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id, tf.term,
       |    ((CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) / (CAST(df_t AS DOUBLE) + 0.5))
       |     * ((CAST(n_dt AS DOUBLE) * 2.2)
       |        / (CAST(n_dt AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS w
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
       |       JOIN df USING (term) CROSS JOIN avg),
       |perdoc AS (
       |  SELECT query_id, doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY term)),
       |      (a, b) -> a + b) AS score,
       |    COUNT(*) AS n_hit
       |  FROM scored GROUP BY 1, 2)""".stripMargin

  private val q77 = QueryDef.of(
    (s, d) => {
      val w10 = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      bm25PerDoc.get(s, d).withColumn("rank", row_number().over(w10))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("score"), col("n_hit"))
        .orderBy(col("query_id"), col("rank"))
    },
    s"""WITH $bm25Ctes,
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM perdoc)
       |SELECT query_id, rank, doc_id, score, n_hit
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)

  // ------------------------------------------------------------ q162
  // Rank-biased precision eval (Moffat & Zobel '08) of the BM25
  // ranking — the RANKING-quality readout that complements q106 (ANN
  // recall@k) and q148 (classifier AUC): "how much graded relevance
  // does a persistence-p user see scanning the list top-down".
  // Persistence p = 1/2 is chosen for EXACTNESS, not convenience: the
  // rank-r weight (1−p)·p^(r−1) = 2^(−r) is a power of two, and the
  // grades are carried in 2^-20 FIXED POINT — rbp_fp20 =
  // Σ_r (rel_r·2^20) div 2^r — so every division through rank 20 is
  // exact integer arithmetic (k = 10 here; a 10^6 scale would silently
  // truncate past rank 6, since 10^6 = 2^6·15625). No log2 (NDCG's
  // discount), whose last-ulp could differ between engines. Graded relevance from the hit structure itself: rel = 2
  // when the doc matched EVERY query term (n_hit = |terms|), else 1
  // (every BM25 hit matched ≥ 1 by construction). ideal_fp20 re-ranks
  // the same grades best-first (2s before 1s, original rank as
  // tie-break) — rbp/ideal is the normalized score, left as two exact
  // integers rather than a lossy division.
  //
  // Scale shape: everything heavy is the shared [[bm25PerDoc]] chain
  // (one (doc, term) aggregate family); the eval itself runs on
  // |queries|·k rows — two windows and one aggregate over a frame that
  // is queries-bounded, not corpus-bounded.
  private val q162 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val w10 = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val topk = bm25PerDoc.get(s, d)
        .withColumn("rank", row_number().over(w10))
        .filter(col("rank") <= 10)
      val nq = BmQueries.toDF("query_id", "qtext")
        .select(col("query_id"),
          size(split(col("qtext"), " ")).cast("long").as("n_terms"))
      val graded = topk.join(broadcast(nq), "query_id")
        .withColumn("rel",
          when(col("n_hit") === col("n_terms"), 2L).otherwise(1L))
      val wIdeal = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("rank"))
      graded.withColumn("irank", row_number().over(wIdeal))
        .groupBy(col("query_id"))
        .agg(
          sum(expr("shiftleft(rel, 20) div shiftleft(1L, cast(rank as int))"))
            .as("rbp_fp20"),
          sum(expr("shiftleft(rel, 20) div shiftleft(1L, cast(irank as int))"))
            .as("ideal_fp20"),
          sum(expr("cast(rel = 2 as long)")).as("n_full_hits"))
        .orderBy(col("query_id"))
    },
    s"""WITH $bm25Ctes,
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, doc_id) AS rank
       |  FROM perdoc),
       |topk AS (SELECT * FROM ranked WHERE rank <= 10),
       |nq AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_terms
       |       FROM q GROUP BY 1),
       |graded AS (
       |  SELECT t.query_id, t.rank,
       |    CASE WHEN t.n_hit = nq.n_terms THEN 2 ELSE 1 END AS rel
       |  FROM topk t JOIN nq USING (query_id)),
       |ideal AS (
       |  SELECT query_id, rank, rel, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY rel DESC, rank) AS irank
       |  FROM graded)
       |SELECT query_id,
       |  CAST(SUM((rel << 20) // (CAST(1 AS BIGINT) << rank))
       |    AS BIGINT) AS rbp_fp20,
       |  CAST(SUM((rel << 20) // (CAST(1 AS BIGINT) << irank))
       |    AS BIGINT) AS ideal_fp20,
       |  CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_full_hits
       |FROM ideal GROUP BY query_id ORDER BY query_id""".stripMargin)

  // ------------------------------------------------------------- q78
  // Per-source frequency cap (RefinedWeb/C4-style domain balancing):
  // keep at most 15 docs per source, chosen by deterministic content
  // hash so the survivor set is stable under re-runs and partitioning.
  // Scale shape: one hash shuffle keyed on source; the cap bounds every
  // group's survivors, and heavy domains (the web's head) are trimmed
  // without a global sort. At 100 TB the rank is a window over the
  // source key — AQE splits skewed source partitions.
  private val q78 = QueryDef.of(
    (s, d) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("hkey"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("hkey"))
        .withColumn("c_source",
          count(lit(1)).over(Window.partitionBy(col("source"))))
        .withColumn("keep_rank", row_number().over(w))
        .filter(col("keep_rank") <= 15)
        .select(col("source"), col("keep_rank"), col("doc_id"),
          col("c_source"))
        .orderBy(col("source"), col("keep_rank"))
    },
    """WITH h AS (
      |  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS hkey,
      |    COUNT(*) OVER (PARTITION BY source) AS c_source
      |  FROM documents),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
      |    ORDER BY hkey, doc_id) AS keep_rank
      |  FROM h)
      |SELECT source, keep_rank, doc_id, c_source
      |FROM ranked WHERE keep_rank <= 15
      |ORDER BY source, keep_rank""".stripMargin)

  // ------------------------------------------------------------- q79
  // Deterministic global shuffle into training shards: every pretraining
  // run needs the corpus randomized then split into N writer shards with
  // stable positions (so a resumed job re-emits identical shards). Shard
  // = hash(doc_id) mod 8; within-shard order = an INDEPENDENT second
  // hash (bytes 9-16 of the md5) so shard assignment and ordering are
  // uncorrelated; char_offset = exclusive running sum of doc length =
  // the byte offset a shard writer seeks to. Scale shape: one shuffle
  // keyed on shard (8 balanced md5 buckets), window sum is integer and
  // per-shard — no global sort, no driver collect.
  private val q79 = QueryDef.of(
    (s, d) => {
      val hashed = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint)")
            .as("h1"),
          expr("cast(conv(substring(md5(cast(doc_id as string)), 9, 8), 16, 10) as bigint)")
            .as("h2"))
        .withColumn("shard", pmod(col("h1"), lit(8)))
      val w = Window.partitionBy(col("shard")).orderBy(col("h2"), col("doc_id"))
      hashed
        .withColumn("pos", row_number().over(w))
        .withColumn("char_offset",
          coalesce(sum(col("n_chars")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("shard"), col("pos"), col("doc_id"), col("n_chars"),
          col("char_offset"))
        .orderBy(col("shard"), col("pos"))
    },
    """WITH h AS (
      |  SELECT doc_id, n_chars,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h1,
      |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 9, 8) AS BIGINT) AS h2
      |  FROM documents),
      |sharded AS (
      |  SELECT doc_id, n_chars, h1 % 8 AS shard, h2 FROM h),
      |placed AS (
      |  SELECT shard, doc_id, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h2, doc_id) AS pos,
      |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY shard ORDER BY h2, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS char_offset
      |  FROM sharded)
      |SELECT shard, pos, doc_id, n_chars, char_offset
      |FROM placed ORDER BY shard, pos""".stripMargin)

  // ------------------------------------------------------------- q81
  // Heavy hitters via count-min sketch: top-25 tokens with BOTH the
  // exact count and the CMS point estimate from the mergeable
  // [[graft.functions.CountMinAgg]] Aggregator. The oracle is the full
  // sketch datapath, not an error bound: because the row hashes are the
  // same md5-derived universal family the MinHash oracle mirrors, DuckDB
  // reconstructs every sketch cell from exact token counts (cell = sum
  // of counts of tokens hashing there) and takes the same D-way min —
  // the estimates must match bit-for-bit. `sound` (est ≥ exact) is a
  // structural CMS property and must be uniformly true.
  // Scale shape: the sketch is one 32 KB buffer per partition merged on
  // the driver side of a 1-row aggregate; exact counts exist here only
  // because the gate wants them — production reads the sketch alone, and
  // the top-k would come from a heap beside the sketch (or q54's
  // partial-agg path).
  private val q81 = QueryDef.of(
    (s, d) => {
      val cms = udaf(graft.functions.CountMinAgg)
      val A = graft.functions.MinHashSig.A
      val B = graft.functions.MinHashSig.B
      val P = graft.functions.MinHashSig.P
      val W = graft.functions.CountMinAgg.W
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
      val sketch = tok.agg(cms(col("token")).as("sk"))
      val top = tok.groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("exact_count").desc, col("token"))))
        .filter(col("rank") <= 25)
      val estExpr = (0 until graft.functions.CountMinAgg.D).map { i =>
        s"element_at(sk, cast($i * $W + ((${A(i)} * h20 + ${B(i)}) % $P) % $W as int) + 1)"
      }.mkString("least(", ", ", ")")
      top.crossJoin(broadcast(sketch))
        .withColumn("h20", expr(
          "cast(conv(substring(md5(token), 1, 5), 16, 10) as bigint)"))
        .withColumn("cms_est", expr(estExpr))
        .select(col("rank"), col("token"), col("exact_count"),
          col("cms_est"),
          (col("cms_est") >= col("exact_count")).as("sound"))
        .orderBy(col("rank"))
    },
    {
      val A = graft.functions.MinHashSig.A
      val B = graft.functions.MinHashSig.B
      val P = graft.functions.MinHashSig.P
      val W = graft.functions.CountMinAgg.W
      val aL = A.take(4).mkString(", ")
      val bL = B.take(4).mkString(", ")
      s"""WITH tok AS (
         |  SELECT u.t AS token FROM documents,
         |    unnest(string_split(text, ' ')) u(t) WHERE u.t <> ''),
         |cnt AS (SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY 1),
         |h AS (
         |  SELECT token, exact_count,
         |    CAST('0x' || substring(md5(token), 1, 5) AS BIGINT) AS h20
         |  FROM cnt),
         |buck AS (
         |  SELECT token, exact_count, i.i AS i,
         |    ((([$aL])[i.i + 1] * h20 + ([$bL])[i.i + 1]) % $P) % $W AS b
         |  FROM h CROSS JOIN generate_series(0, 3) i(i)),
         |cell AS (SELECT i, b, SUM(exact_count) AS cell_count
         |         FROM buck GROUP BY 1, 2),
         |est AS (SELECT token, CAST(MIN(cell_count) AS BIGINT) AS cms_est
         |        FROM buck JOIN cell USING (i, b) GROUP BY 1),
         |ranked AS (
         |  SELECT token, exact_count,
         |    ROW_NUMBER() OVER (ORDER BY exact_count DESC, token) AS rank
         |  FROM cnt)
         |SELECT rank, token, exact_count, cms_est,
         |  cms_est >= exact_count AS sound
         |FROM ranked JOIN est USING (token)
         |WHERE rank <= 25 ORDER BY rank""".stripMargin
    })

  // ------------------------------------------------------------- q185
  // JOIN-SIZE estimation from CMS INNER PRODUCTS — the second sketch-
  // ALGEBRA operator beside q175's KMV set algebra: for two relations
  // keyed on the same column, the inner product of their count-min
  // rows estimates |A ⋈ B| = Σ_k a_k·b_k without computing the join
  // (Cormode & Muthukrishnan '05 §4.2 — the cardinality-estimation
  // problem every join optimizer solves, here from two 32 KB sketches
  // that each side maintains independently). Estimate = min over the D
  // row inner products; ≥ the true size ALWAYS (every cross term is
  // non-negative), so `sound` is structural. A = high-volume returns
  // ('R' flag), B = open-status lines ('O'), keyed l_partkey — both
  // sides carry real multiplicities, which is what makes the problem
  // non-trivial (unique-key joins are just COUNT).
  //
  // At the fixture's key density (~20k partkeys over W=1024 buckets)
  // the estimate is collision-dominated (~20× high at sf0.1) — shown
  // in ratio_ppm rather than asserted away, the q175 discipline;
  // production sizes W ≳ key-domain/ε (the sketch is 8 bytes/cell, so
  // W=2^20 is still 32 MB) and the ALGEBRA is what this operator pins.
  //
  // Scale shape: each sketch is ONE 1-row aggregate with 32 KB map-side
  // partials (the q81 shape); the inner product runs on a 1×1 cross of
  // two sketch rows. The exact size (gate-only — production trusts the
  // sketch) is one key-grouped count join, never the join itself.
  // Overflow: row inner products ≤ |A|·|B| — Long-safe to ~3e9 rows per
  // side; past that the zip_with products need decimal accumulation
  // (the q141 CovScale discipline).
  private val q185 = QueryDef.of(
    (s, d) => {
      val cms = udaf(graft.functions.CountMinAgg)
      val W = graft.functions.CountMinAgg.W
      val li = Tables.lineitem(s, d)
        .select(col("l_partkey").cast("string").as("token"),
          col("l_returnflag"), col("l_linestatus"))
      // BOTH sketches from ONE scan (the q185b trick — CountMinAgg
      // ignores NULLs, so each side's membership rides a when guard);
      // the r14 shape paid two separate full-scan aggregates
      val sk = li.agg(
        cms(when(col("l_returnflag") === "R", col("token"))).as("ska"),
        cms(when(col("l_linestatus") === "O", col("token"))).as("skb"))
      val inner = (0 until graft.functions.CountMinAgg.D).map { i =>
        s"""aggregate(zip_with(
           |  slice(ska, ${i * W} + 1, $W), slice(skb, ${i * W} + 1, $W),
           |  (x, y) -> x * y), 0L, (acc, v) -> acc + v)""".stripMargin
      }.mkString("least(", ", ", ")")
      // the exact gate leg likewise: one token-grouped scan carrying
      // BOTH sides' conditional counts, then the Σ ca·cb readout
      val exact = li.groupBy(col("token"))
        .agg(count(when(col("l_returnflag") === "R", lit(1))).as("ca"),
          count(when(col("l_linestatus") === "O", lit(1))).as("cb"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("exact_size"))
      sk.crossJoin(broadcast(exact))
        .withColumn("est", expr(inner))
        .select(col("est"), col("exact_size"),
          (col("est") >= col("exact_size")).as("sound"),
          expr("(est * 1000000L) div greatest(exact_size, 1L)")
            .as("ratio_ppm"))
    },
    {
      val A = graft.functions.MinHashSig.A
      val B = graft.functions.MinHashSig.B
      val P = graft.functions.MinHashSig.P
      val W = graft.functions.CountMinAgg.W
      val aL = A.take(4).mkString(", ")
      val bL = B.take(4).mkString(", ")
      s"""WITH la AS (
         |  SELECT CAST(l_partkey AS VARCHAR) AS token, COUNT(*) AS ca
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         |lb AS (
         |  SELECT CAST(l_partkey AS VARCHAR) AS token, COUNT(*) AS cb
         |  FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1),
         |keys AS (SELECT token FROM la UNION SELECT token FROM lb),
         |h AS (
         |  SELECT token,
         |    CAST('0x' || substring(md5(token), 1, 5) AS BIGINT) AS h20
         |  FROM keys),
         |buck AS (
         |  SELECT token, i.i AS i,
         |    ((([$aL])[i.i + 1] * h20 + ([$bL])[i.i + 1]) % $P) % $W AS b
         |  FROM h CROSS JOIN generate_series(0, 3) i(i)),
         |cellA AS (
         |  SELECT i, b, SUM(ca) AS c FROM buck JOIN la USING (token)
         |  GROUP BY 1, 2),
         |cellB AS (
         |  SELECT i, b, SUM(cb) AS c FROM buck JOIN lb USING (token)
         |  GROUP BY 1, 2),
         |rows_ AS (
         |  SELECT a.i, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
         |  FROM cellA a JOIN cellB b USING (i, b) GROUP BY a.i),
         |-- a CMS row with ZERO (i,b) overlap between the sides has no
         |-- rows_ entry, but its true inner product is 0 and the Spark
         |-- side's full-array zip_with correctly includes it — generate
         |-- all D row ids and COALESCE so MIN sees the 0 (degenerate-
         |-- input parity; on the fixture every row overlaps)
         |est AS (
         |  SELECT CAST(MIN(COALESCE(ip, 0)) AS BIGINT) AS est
         |  FROM generate_series(0, 3) d(i) LEFT JOIN rows_ ON rows_.i = d.i),
         |ex AS (
         |  SELECT CAST(COALESCE(SUM(ca * cb), 0) AS BIGINT) AS exact_size
         |  FROM la JOIN lb USING (token))
         |SELECT est, exact_size, est >= exact_size AS sound,
         |  (est * 1000000) // GREATEST(exact_size, 1) AS ratio_ppm
         |FROM est CROSS JOIN ex""".stripMargin
    })

  // ------------------------------------------------------------ q185b
  // The PRODUCTION entry point of q185: the CMS inner-product estimate
  // WITHOUT the gate-only exact join size — at 100 TB the exact leg is
  // the very key-grouped count join the sketch estimator exists to
  // avoid (r10 VERDICT #3). Bonus over the gated variant: both sides'
  // sketches build from ONE lineitem scan (CountMinAgg ignores NULLs,
  // so each side's membership rides a `when` guard into its own
  // aggregate — two 32 KB buffers, one pass; when the sides live in
  // different relations, as in a real optimizer, each keeps its own
  // one-pass build). Output is the estimate alone — the number a join
  // planner consumes.
  private val q185b = QueryDef.of(
    (s, d) => {
      val cms = udaf(graft.functions.CountMinAgg)
      val W = graft.functions.CountMinAgg.W
      val sk = Tables.lineitem(s, d)
        .select(col("l_partkey").cast("string").as("token"),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          cms(when(col("l_returnflag") === "R", col("token"))).as("ska"),
          cms(when(col("l_linestatus") === "O", col("token"))).as("skb"))
      val inner = (0 until graft.functions.CountMinAgg.D).map { i =>
        s"""aggregate(zip_with(
           |  slice(ska, ${i * W} + 1, $W), slice(skb, ${i * W} + 1, $W),
           |  (x, y) -> x * y), 0L, (acc, v) -> acc + v)""".stripMargin
      }.mkString("least(", ", ", ")")
      sk.select(expr(inner).as("est"))
    },
    {
      val A = graft.functions.MinHashSig.A
      val B = graft.functions.MinHashSig.B
      val P = graft.functions.MinHashSig.P
      val W = graft.functions.CountMinAgg.W
      val aL = A.take(4).mkString(", ")
      val bL = B.take(4).mkString(", ")
      s"""WITH la AS (
         |  SELECT CAST(l_partkey AS VARCHAR) AS token, COUNT(*) AS ca
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         |lb AS (
         |  SELECT CAST(l_partkey AS VARCHAR) AS token, COUNT(*) AS cb
         |  FROM lineitem WHERE l_linestatus = 'O' GROUP BY 1),
         |keys AS (SELECT token FROM la UNION SELECT token FROM lb),
         |h AS (
         |  SELECT token,
         |    CAST('0x' || substring(md5(token), 1, 5) AS BIGINT) AS h20
         |  FROM keys),
         |buck AS (
         |  SELECT token, i.i AS i,
         |    ((([$aL])[i.i + 1] * h20 + ([$bL])[i.i + 1]) % $P) % $W AS b
         |  FROM h CROSS JOIN generate_series(0, 3) i(i)),
         |cellA AS (
         |  SELECT i, b, SUM(ca) AS c FROM buck JOIN la USING (token)
         |  GROUP BY 1, 2),
         |cellB AS (
         |  SELECT i, b, SUM(cb) AS c FROM buck JOIN lb USING (token)
         |  GROUP BY 1, 2),
         |rows_ AS (
         |  SELECT a.i, CAST(SUM(a.c * b.c) AS BIGINT) AS ip
         |  FROM cellA a JOIN cellB b USING (i, b) GROUP BY a.i)
         |SELECT CAST(MIN(COALESCE(ip, 0)) AS BIGINT) AS est
         |FROM generate_series(0, 3) d(i) LEFT JOIN rows_ ON rows_.i = d.i"""
        .stripMargin
    })

  // ------------------------------------------------------------- q88
  // BPE tokenizer vocabulary training ([[graft.operators.BpeTrainer]]):
  // 3 greedy merge steps over the frequency-weighted distinct-word
  // frame, then the resulting vocabulary (top 30 symbols by weighted
  // count). The DuckDB oracle replays the FULL training — pair counting,
  // (count DESC, p1, p2) winner selection, and greedy merge application
  // via the double-space replace encoding — bit-for-bit: both the
  // learned merges and the final vocabulary must match exactly.
  private val BpeSteps = 3
  private def bpeRound(k: Int, prev: String): String =
    s"""tk$k AS (
       |  SELECT freq, list_filter(string_split(s, '  '), x -> x <> '') AS t
       |  FROM $prev),
       |pc$k AS (
       |  SELECT p.p1 AS p1, p.p2 AS p2, CAST(SUM(freq) AS BIGINT) AS w
       |  FROM (SELECT freq, unnest(list_transform(range(1, len(t)),
       |          i -> {'p1': t[i], 'p2': t[i + 1]})) AS p
       |        FROM tk$k WHERE len(t) >= 2)
       |  GROUP BY 1, 2),
       |b$k AS (SELECT p1, p2, w FROM pc$k ORDER BY w DESC, p1, p2 LIMIT 1),
       |s$k AS (
       |  SELECT word, freq,
       |    replace(s, ' ' || b.p1 || '  ' || b.p2 || ' ',
       |               ' ' || b.p1 || '~' || b.p2 || ' ') AS s
       |  FROM $prev, b$k b)""".stripMargin
  /** The corpus distinct-word frequency frame BPE trains on; `docFilter`
    * restricts the training split (q118 trains on 80% and evaluates
    * fertility/OOV on the held-out 20%). */
  private def bpeWords(s: org.apache.spark.sql.SparkSession, d: String,
      docFilter: org.apache.spark.sql.Column = lit(true)) =
    Tables.documents(s, d)
      .filter(docFilter)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Trained-BPE cache, keyed (session, corpus, split): q88 and q100
    * train on the identical full corpus and q118 on the 80% doc_id
    * split — each training is [[BpeSteps]] full pair-count jobs, so
    * like the IVF/LSH/graph artifacts the merge table is built once
    * per corpus and the queries only replay the cheap encode join.
    * The final symbolized frame is persisted (it IS the encoder
    * table). */
  private[graft] val trainedBpe = Artifact.variants("bpe",
      Seq("all", "train80")) { (s, d, split) =>
    // the filter derives from the cache key, so key↔corpus can't drift
    val docFilter = split match {
      case "all"     => lit(true)
      case "train80" => col("doc_id") % 10 < 8
      case other => throw new IllegalArgumentException(
        s"unknown BPE split '$other'")
    }
    val (m, fin) = graft.operators.BpeTrainer.train(
      bpeWords(s, d, docFilter), BpeSteps)
    (m, fin.persist())
  } { case (_, fin) => Seq(fin) }

  /** Training CTE chain shared by q88 (vocab), q100 (encode) and q118
    * (eval): w0 distinct words → s0 char symbolization → s1..sN merge
    * rounds. `where` restricts the training documents. */
  private def bpeTrainCtesWhere(where: String) =
    s"""w0 AS (
       |  SELECT word, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents $where)
       |  WHERE word <> '' GROUP BY word),
       |s0 AS (
       |  SELECT word, freq,
       |    '  ' || array_to_string(list_transform(
       |      range(1, len(word) + 1), i -> word[i]), '  ') || '  ' AS s
       |  FROM w0),
       |${(1 to BpeSteps).map(k => bpeRound(k, s"s${k - 1}")).mkString(",\n")}""".stripMargin

  private val bpeTrainCtes = bpeTrainCtesWhere("")

  private val q88 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val (merges, fin) = trainedBpe.get(s, d, "all")
      val mergeRows = merges
        .map(m => ("merge", m.step, s"${m.p1}~${m.p2}", m.weight))
        .toDF("kind", "step", "token", "weight")
      val vocab = fin
        .select(col("freq"),
          explode(expr("filter(split(s, '  '), x -> x != '')")).as("token"))
        .groupBy(col("token")).agg(sum(col("freq")).as("weight"))
        .orderBy(col("weight").desc, col("token")).limit(30)
        .select(lit("vocab").as("kind"), lit(0).as("step"),
          col("token"), col("weight"))
      mergeRows.unionByName(vocab)
        .orderBy(col("kind"), col("step"), col("token"))
    },
    s"""WITH $bpeTrainCtes,
       |vocab AS (
       |  SELECT token, CAST(SUM(freq) AS BIGINT) AS weight
       |  FROM (SELECT freq,
       |          unnest(list_filter(string_split(s, '  '), x -> x <> '')) AS token
       |        FROM s$BpeSteps)
       |  GROUP BY token),
       |top AS (SELECT token, weight FROM vocab ORDER BY weight DESC, token LIMIT 30)
       |SELECT * FROM (
       |  ${(1 to BpeSteps).map(k =>
            s"SELECT 'merge' AS kind, $k AS step, p1 || '~' || p2 AS token, w AS weight FROM b$k")
            .mkString("\n  UNION ALL ")}
       |  UNION ALL SELECT 'vocab' AS kind, 0 AS step, token, weight FROM top)
       |ORDER BY kind, step, token""".stripMargin)

  // ------------------------------------------------------------- q100
  // BPE ENCODE — the serving half of q88: the trained symbolization
  // frame (word → merged symbols) IS the encoder table; tokenizing the
  // corpus is one word-keyed join of the exploded documents against it,
  // then a doc-keyed sum. Scale shape: the encoder table is |distinct
  // words| (tiny vs the corpus — it broadcasts at scale), the shuffle
  // carries (word, counts) pairs, and document text never moves after
  // the explode. The oracle replays the FULL training chain (shared
  // CTEs with q88) and then the same join — so a single drifted merge
  // decision or token count fails the gate. Output: per-doc word /
  // char / post-BPE token counts (all integers — order-proof).
  private val q100 = QueryDef.of(
    (s, d) => {
      val (_, fin) = trainedBpe.get(s, d, "all")
      val encoder = fin.select(col("word"),
        expr("cast(size(filter(split(s, '  '), x -> x != '')) as bigint)")
          .as("w_tokens"))
      val docWords = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      val perDoc = docWords.join(encoder, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
          sum(length(col("word"))).as("n_chars"),
          sum(col("w_tokens")).as("n_tokens"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_chars"), lit(0L)).as("n_chars"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
    s"""WITH $bpeTrainCtes,
       |wt AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(s, '  '), x -> x <> ''))
       |      AS BIGINT) AS w_tokens
       |  FROM s$BpeSteps),
       |dw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_words,
       |    CAST(SUM(len(word)) AS BIGINT) AS n_chars,
       |    CAST(SUM(w_tokens) AS BIGINT) AS n_tokens
       |  FROM (SELECT * FROM dw WHERE word <> '') JOIN wt USING (word)
       |  GROUP BY doc_id)
       |SELECT d.doc_id, COALESCE(n_words, 0) AS n_words,
       |  COALESCE(perdoc.n_chars, 0) AS n_chars,
       |  COALESCE(n_tokens, 0) AS n_tokens
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q103
  // Corpus drift detection: compare one source's token distribution
  // against the rest of the corpus (the data-quality monitor that
  // catches a crawler/source going off the rails between snapshots).
  // Per-token micro-unit frequencies f = (1e6·count) div N on each side,
  // per-token drift = |f_a − f_b|, global drift = Σ|f_a − f_b| (L1 /
  // total-variation distance in micro-units — rational arithmetic, so
  // the oracle replays it exactly; chi²/KL need engine-divergent
  // logs/divisions). ONE pass over the corpus: a conditional aggregate
  // splits the sides (no self-join), the 1-row totals and L1 frames
  // broadcast back, and the top-25 report is a TakeOrdered. Headroom:
  // f ≤ 1e6, L1 ≤ 2e6·|vocab| — BIGINT-safe to ~4e12 distinct tokens.
  private val q103 = QueryDef.of(
    (s, d) => {
      val cnt = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("o_a"),
          sum(when(col("source") =!= "src0", 1L).otherwise(0L)).as("o_b"))
      val tot = cnt.agg(sum(col("o_a")).as("na"), sum(col("o_b")).as("nb"))
      val scored = cnt.crossJoin(broadcast(tot))
        .select(col("token"), col("o_a"), col("o_b"),
          expr("(1000000L * o_a) div na").as("f_a_micro"),
          expr("(1000000L * o_b) div nb").as("f_b_micro"))
        .withColumn("diff_micro",
          abs(col("f_a_micro") - col("f_b_micro")))
      val l1 = scored.agg(sum(col("diff_micro")).as("total_l1_micro"))
      scored.crossJoin(broadcast(l1))
        .orderBy(col("diff_micro").desc, col("token"))
        .limit(25)
    },
    """WITH cnt AS (
      |  SELECT token,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS o_a,
      |    CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS o_b
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token
      |        FROM documents)
      |  WHERE token <> '' GROUP BY token),
      |tot AS (
      |  SELECT CAST(SUM(o_a) AS BIGINT) AS na,
      |    CAST(SUM(o_b) AS BIGINT) AS nb FROM cnt),
      |scored AS (
      |  SELECT token, o_a, o_b,
      |    (1000000 * o_a) // na AS f_a_micro,
      |    (1000000 * o_b) // nb AS f_b_micro,
      |    abs((1000000 * o_a) // na - (1000000 * o_b) // nb) AS diff_micro
      |  FROM cnt, tot),
      |l1 AS (SELECT CAST(SUM(diff_micro) AS BIGINT) AS total_l1_micro
      |       FROM scored)
      |SELECT token, o_a, o_b, f_a_micro, f_b_micro, diff_micro,
      |  total_l1_micro
      |FROM scored, l1
      |ORDER BY diff_micro DESC, token LIMIT 25""".stripMargin)

  // ------------------------------------------------------------- q92
  // Bigram language-model quality scoring (the CCNet/KenLM filtering
  // shape): train corpus bigram statistics, score each doc by its mean
  // conditional bigram probability, keep docs above a fluency floor.
  // All integer fixed-point — p(w2|w1) ≈ (1e6·c12) div c1 micro-units,
  // doc score = Σp div n — so the oracle replays training AND scoring
  // bit-for-bit (a log-prob variant is the one-line production swap; ln
  // is 1-ulp engine-divergent, q77 precedent). The keep floor is
  // DERIVED per run as the corpus's exact discrete median score (GK
  // sketch at q19's oracle-exact accuracy vs DuckDB quantile_disc) —
  // CCNet's actual recipe (per-bucket perplexity quantiles), and a
  // hard-coded SF-observed literal (the round-3 shape) can't survive a
  // driver SF change. Scale shape: one bigram explode, two
  // (w1,w2)/(w1)-keyed count aggs with map-side partials, two key-only
  // shuffle joins of the doc bigram stream against the count tables,
  // one doc-keyed sum, one 1-row GK agg broadcast back. Headroom:
  // 1e6·c12 overflows BIGINT only past ~9e12 occurrences of ONE bigram.
  /** Per-doc bigram-LM quality scores (the q92 training+scoring chain),
    * shared with the q143 curriculum binning: doc_id, n_tokens,
    * n_bigrams, lm_score_micro. */
  /** The per-doc quality-score table is a SHARED, pinned artifact
    * (candidates/pairStats lifecycle): a CCNet-shaped curation run
    * scores every shard once and stores the result; the median gate
    * (q92) and the curriculum binning (q143) both read the stored
    * scores. Memoized per (session, corpus); the bench warms it as a
    * setup artifact and the DuckDB pair gets the same amortization via
    * [[oraclePrelude]]'s pre-built table (r14 VERDICT #3 lifecycle-twin
    * discipline). */
  private[graft] val lmScores = Artifact.frame("lmScores", eager = true) { (s, d) =>
    lmScoresBuild(s, d).localCheckpoint(true)
  }

  private def lmScoresBuild(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
    val bg = toks
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(tk) >= 2 THEN
          |  transform(sequence(0, size(tk) - 2),
          |    i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    // c1 derives from c12 (Σ c12 over w2 = the w1 unigram count) and
    // is folded INTO the count table before the stream join — the
    // bigram stream is aggregated once and joined once; both
    // count-table ops touch only |distinct bigrams| rows
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val cj = c12.join(c1, Seq("w1"))
    val scored = bg
      .join(cj, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(1000000L * c12) div c1")).as("p_sum"))
    toks.select(col("doc_id"), size(col("tk")).as("n_tokens"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(expr("p_sum div n_bigrams"), lit(0L))
          .as("lm_score_micro"))
  }

  /** Shared oracle CTE chain for [[lmScores]] — ends at `perdoc`. */
  private val lmScoreCtes =
    """toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |    i -> {'w1': tk[i], 'w2': tk[i + 1]}), recursive := true)
      |  FROM toks),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    SUM((1000000 * c12.c12) // c1.c1) AS p_sum
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      |  GROUP BY doc_id),
      |perdoc AS (
      |  SELECT toks.doc_id, CAST(len(tk) AS INT) AS n_tokens,
      |    COALESCE(n_bigrams, 0) AS n_bigrams,
      |    CAST(COALESCE(p_sum // n_bigrams, 0) AS BIGINT) AS lm_score_micro
      |  FROM toks LEFT JOIN scored USING (doc_id))""".stripMargin

  /** Bench-pair lifecycle twins for the [[lmScores]] artifact: the
    * pair pre-materializes the per-doc score table once, untimed
    * (exactly what the engine's warmed memo amortizes), and times
    * q92/q143 reading it. oracle_time.py equality-checks each override
    * against the verbatim oracle before timing. */
  val oraclePrelude: Seq[String] = Seq(
    s"""CREATE TEMP TABLE lm_perdoc AS
       |WITH $lmScoreCtes
       |SELECT * FROM perdoc""".stripMargin)
  def oracleOverride: Map[String, String] = Map(
    "q92_lm_quality" ->
      """WITH fl AS (
        |  SELECT quantile_disc(lm_score_micro, 0.5) AS floor_micro
        |  FROM lm_perdoc)
        |SELECT doc_id, n_bigrams, lm_score_micro, floor_micro,
        |  CAST(lm_score_micro >= floor_micro AS INT) AS keep
        |FROM lm_perdoc, fl
        |ORDER BY doc_id""".stripMargin,
    "q143_quality_curriculum" ->
      """WITH ct AS (
        |  SELECT quantile_disc(lm_score_micro, [0.25, 0.5, 0.75]) AS cuts
        |  FROM lm_perdoc),
        |b AS (
        |  SELECT p.*,
        |    CASE WHEN lm_score_micro < cuts[1] THEN 0
        |         WHEN lm_score_micro < cuts[2] THEN 1
        |         WHEN lm_score_micro < cuts[3] THEN 2
        |         ELSE 3 END AS bin
        |  FROM lm_perdoc p, ct)
        |SELECT bin, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS tok_mass,
        |  MIN(lm_score_micro) AS min_score, MAX(lm_score_micro) AS max_score
        |FROM b GROUP BY bin
        |ORDER BY bin""".stripMargin)

  private val q92 = QueryDef.of(
    (s, d) => {
      val perDoc = lmScores.get(s, d).drop("n_tokens")
      val acc = Relational.gkAccuracy(
        Tables.documents(s, d).count()).toInt
      val floor = perDoc.agg(
        percentile_approx(col("lm_score_micro"), lit(0.5), lit(acc))
          .as("floor_micro"))
      perDoc.crossJoin(broadcast(floor))
        .withColumn("keep",
          (col("lm_score_micro") >= col("floor_micro")).cast("int"))
        .orderBy(col("doc_id"))
    },
    s"""WITH $lmScoreCtes,
       |fl AS (
       |  SELECT quantile_disc(lm_score_micro, 0.5) AS floor_micro
       |  FROM perdoc)
       |SELECT doc_id, n_bigrams, lm_score_micro, floor_micro,
       |  CAST(lm_score_micro >= floor_micro AS INT) AS keep
       |FROM perdoc, fl
       |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------ q143
  // Quality-quartile curriculum report — the mixing readout a
  // pretraining run uses to weight data by quality (DataComp/DoReMi
  // shape: bucket the corpus by model-scored quality, then sample
  // buckets at different rates; perplexity binning is this with a
  // bigger LM). Docs bin into quartiles of the q92 bigram-LM score at
  // cut points DERIVED per run (GK sketch at q19's oracle-exact
  // accuracy ≡ DuckDB quantile_disc bit-for-bit — no SF-observed
  // literals), and each bin reports its doc count and token mass (the
  // number the sampler actually needs: tokens, not docs). Scale shape:
  // the q92 chain's shuffles plus ONE 1-row quantile agg broadcast
  // back and ONE 4-group aggregate; the cut comparison is a per-row
  // map. Ties at a cut value land in the upper bin in both engines
  // (strict `<` against identical cut literals).
  private val q143 = QueryDef.of(
    (s, d) => {
      val perDoc = lmScores.get(s, d)
      val acc = Relational.gkAccuracy(
        Tables.documents(s, d).count()).toInt
      val cuts = perDoc.agg(
        percentile_approx(col("lm_score_micro"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(acc)).as("cuts"))
      perDoc.crossJoin(broadcast(cuts))
        .withColumn("bin", expr(
          """case when lm_score_micro < cuts[0] then 0
            |     when lm_score_micro < cuts[1] then 1
            |     when lm_score_micro < cuts[2] then 2
            |     else 3 end""".stripMargin))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_mass"),
          min(col("lm_score_micro")).as("min_score"),
          max(col("lm_score_micro")).as("max_score"))
        .orderBy(col("bin"))
    },
    s"""WITH $lmScoreCtes,
       |ct AS (
       |  SELECT quantile_disc(lm_score_micro, [0.25, 0.5, 0.75]) AS cuts
       |  FROM perdoc),
       |b AS (
       |  SELECT p.*,
       |    CASE WHEN lm_score_micro < cuts[1] THEN 0
       |         WHEN lm_score_micro < cuts[2] THEN 1
       |         WHEN lm_score_micro < cuts[3] THEN 2
       |         ELSE 3 END AS bin
       |  FROM perdoc p, ct)
       |SELECT bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tok_mass,
       |  MIN(lm_score_micro) AS min_score, MAX(lm_score_micro) AS max_score
       |FROM b GROUP BY bin
       |ORDER BY bin""".stripMargin)

  // ------------------------------------------------------------- q93
  // Linear text-classifier inference with the hashing trick (the
  // fastText/quality-classifier serving shape): token → 2^18-bucket md5
  // feature index, per-feature weight, doc score = mean feature weight.
  // Weights here are derived deterministically from the feature index
  // (Knuth multiplicative hash → [-1000, 1000] micro-units) so the
  // oracle replays inference exactly; production swaps in a broadcast
  // learned-weight table keyed by the same index — the plan shape
  // (per-row map + explode + doc-keyed sum, NO weight shuffle) is what
  // this query pins. Prediction = sign of the mean weight.
  private val q93 = QueryDef.of(
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("term"))
        .withColumn("fidx", expr(
          "cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint) % 262144"))
        .withColumn("w_micro",
          expr("(fidx * 2654435761L) % 2001L - 1000L"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("w_micro")).as("w_sum"))
      scored
        .select(col("doc_id"), col("n_tokens"),
          expr("w_sum div n_tokens").as("score_micro"),
          expr("cast(w_sum > 0 as int)").as("predicted"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |f AS (
      |  SELECT doc_id,
      |    CAST('0x' || substring(md5(term), 1, 8) AS BIGINT) % 262144 AS fidx
      |  FROM t),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    SUM((fidx * 2654435761) % 2001 - 1000) AS w_sum
      |  FROM f GROUP BY doc_id)
      |SELECT doc_id, n_tokens, CAST(w_sum // n_tokens AS BIGINT) AS score_micro,
      |  CAST(w_sum > 0 AS INT) AS predicted
      |FROM scored
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q126
  // DSIR-shaped data selection (Xie et al. '23, "Data Selection for
  // Language Models via Importance Resampling"): score every corpus
  // document by how much its hashed-unigram distribution looks like a
  // TARGET domain (here lang='en' — the canonical "select web data that
  // resembles formal English" setup) relative to the full corpus, then
  // keep the documents that are more target-like than source-like.
  //
  // Per-bucket importance: tokens hash into 2^13 buckets (q93's md5
  // contract); with add-1 smoothing,
  //   ratio_micro(b) = 1e6 · p̂_target(b) / p̂_source(b)
  //                  = ((cnt_t+1)·(S+B)·1e6) div ((cnt_s+1)·(T+B)).
  // Per-doc score sums (ratio_micro − 1e6) over token occurrences —
  // the first-order (log-free) importance surplus: log x ≈ x−1 near 1,
  // and the oracle replays every integer bit-for-bit (q107's PMI
  // precedent; ln itself is 1-ulp divergent across engines). Overflow
  // headroom: (cnt_t+1)·(S+B)·1e6 < 2^63 needs cnt_t·S < 9.2e12 —
  // beyond that (real corpora) production switches to log-space
  // doubles, acceptable because selection is a ranking, not an oracle.
  //
  // Scale shape: the bucket-weight table is ONE groupBy over the token
  // stream (conditional target counts ride the same aggregate — no
  // second scan) and is 8192 rows → broadcast onto the scoring pass;
  // per-doc scores are a map-side join + one doc-keyed integer sum.
  // The weight table is the offline artifact a production pipeline
  // trains once and reuses across ingestion batches. `selected` is a
  // per-row threshold (surplus > 0), NOT a global rank — no global
  // sort anywhere (q109 lesson).
  private val q126 = QueryDef.of(
    (s, d) => {
      // r16 (§1.2/§2.2): the tokenize+md5 explode used to run TWICE —
      // once under the bucket-weight aggregate and once under the
      // scoring join — and both downstream shuffles carried the raw
      // token stream. One (doc, lang, bucket) count frame (pinned for
      // its two consumers) now carries everything: cnt_s/cnt_t are
      // sums of cnt over buckets, per-doc n_tokens/surplus are
      // cnt-weighted sums — identical integers, the md5 pass and the
      // corpus-sized shuffle run once. cnt_t keeps the original's
      // NULL-lang algebra via cast(lang='en')·cnt (NULL rows are
      // sum-skipped in both forms).
      val dtb = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(expr("filter(split(text, ' '), t -> t <> '')"))
            .as("term"))
        .withColumn("b", expr(
          "cast(conv(substring(md5(term), 1, 8), 16, 10) as bigint) % 8192"))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      graft.Resources.retainSlot(
        s"q126:${graft.Resources.sessionKey(s)}:$d", dtb)
      val bw = dtb.groupBy(col("b")).agg(
        sum(col("cnt")).as("cnt_s"),
        sum(expr("cast(lang = 'en' as bigint) * cnt")).as("cnt_t"))
      val totals = bw.agg(sum(col("cnt_s")).as("big_s"),
        sum(col("cnt_t")).as("big_t"))
      val weights = bw.crossJoin(broadcast(totals))
        .select(col("b"), expr(
          "((cnt_t + 1) * (big_s + 8192) * 1000000L) div " +
            "((cnt_s + 1) * (big_t + 8192))").as("ratio_micro"))
      dtb
        .join(broadcast(weights), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"),
          sum(col("cnt") * (col("ratio_micro") - lit(1000000L)))
            .as("surplus_sum"))
        .select(col("doc_id"), col("n_tokens"),
          expr("surplus_sum div n_tokens").as("dsir_micro"),
          expr("cast(surplus_sum > 0 as int)").as("selected"))
        .orderBy(col("doc_id"))
    },
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |tb AS (
      |  SELECT doc_id, lang,
      |    CAST('0x' || substring(md5(term), 1, 8) AS BIGINT) % 8192 AS b
      |  FROM t),
      |bw AS (
      |  SELECT b, COUNT(*) AS cnt_s,
      |    SUM(CAST(lang = 'en' AS BIGINT)) AS cnt_t
      |  FROM tb GROUP BY b),
      |totals AS (
      |  SELECT CAST(SUM(cnt_s) AS BIGINT) AS big_s,
      |    CAST(SUM(cnt_t) AS BIGINT) AS big_t FROM bw),
      |weights AS (
      |  SELECT b, CAST(((cnt_t + 1) * (big_s + 8192) * 1000000)
      |    // ((cnt_s + 1) * (big_t + 8192)) AS BIGINT) AS ratio_micro
      |  FROM bw CROSS JOIN totals),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens,
      |    SUM(ratio_micro - 1000000) AS surplus_sum
      |  FROM tb JOIN weights USING (b) GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  CAST(surplus_sum // n_tokens AS BIGINT) AS dsir_micro,
      |  CAST(surplus_sum > 0 AS INT) AS selected
      |FROM scored
      |ORDER BY doc_id""".stripMargin)

  // ------------------------------------------------------------- q107
  // Collocation extraction by pointwise mutual information (phrase
  // mining — the multi-word-expression pass a tokenizer-training
  // pipeline runs before BPE, q88's upstream neighbor): corpus bigrams
  // with support ≥ 5, scored by integer fixed-point PMI —
  // (1e6·c12·N) div (c1·c2) micro-units, where N is the total bigram
  // count and c1/c2 are unigram occurrence counts. Log-free so both
  // engines replay the score bit-for-bit (ln is 1-ulp divergent, q77
  // precedent); ranking by the ratio IS ranking by PMI (log is
  // monotone). Headroom: 1e6·c12·N overflows BIGINT past c12·N ≈ 9e12 —
  // production at that scale swaps to log-space and ranks approximately.
  // Scale shape: one bigram explode + one token explode; the unigram
  // table joins the GROUPED (vocab²-bounded) bigram frame, never the
  // raw stream; top-50 is a TakeOrdered, not a global sort.
  private val q107 = QueryDef.of(
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
      val bg = toks
        .select(explode(expr(
          """CASE WHEN size(tk) >= 2 THEN
            |  transform(sequence(0, size(tk) - 2),
            |    i -> struct(tk[i] AS w1, tk[i + 1] AS w2))
            |ELSE array() END""".stripMargin)).as("b"))
        .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      val cw = toks.select(explode(col("tk")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val c12 = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 5)
      val nb = bg.agg(count(lit(1)).as("nb"))
      c12
        .join(cw.withColumnsRenamed(Map("w" -> "w1", "c" -> "c1")), Seq("w1"))
        .join(cw.withColumnsRenamed(Map("w" -> "w2", "c" -> "c2")), Seq("w2"))
        .crossJoin(broadcast(nb))
        .select(col("w1"), col("w2"), col("c12"),
          expr("(1000000L * c12 * nb) div (c1 * c2)").as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
        .limit(50)
    },
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |tok AS (SELECT unnest(tk) AS w FROM toks),
      |cw AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY 1),
      |bg AS (
      |  SELECT unnest(list_transform(range(1, len(tk)),
      |    i -> {'w1': tk[i], 'w2': tk[i + 1]}), recursive := true)
      |  FROM toks),
      |c12 AS (
      |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2
      |  HAVING COUNT(*) >= 5)
      |SELECT w1, w2, c12,
      |  (1000000 * c12 * (SELECT COUNT(*) FROM bg)) // (a.c * b.c)
      |    AS pmi_micro
      |FROM c12 JOIN cw a ON c12.w1 = a.w JOIN cw b ON c12.w2 = b.w
      |ORDER BY pmi_micro DESC, w1, w2
      |LIMIT 50""".stripMargin)

  // ------------------------------------------------------------- q105
  // KMV (bottom-k) distinct-count sketch per language PLUS the merged
  // all-corpus union estimate — the set-cardinality sketch whose state
  // composes under set algebra ([[graft.functions.KmvAgg]]; HLL++ needs
  // a fixed register layout, KMV is just "the k smallest hashes", which
  // is why the union row here is the SAME aggregator run over the whole
  // stream). The md5-derived 48-bit hash is SQL-expressible, so the
  // DuckDB oracle rebuilds every sketch (ordered list prefix) and every
  // estimate matches bit-for-bit — stronger than an error-bound check.
  // Scale shape: the sketch consumes the RAW token stream (no distinct
  // shuffle!) with O(K)-memory map-side partials; ≤ 512-byte buffers
  // shuffle. The exact-distinct comparison column runs in its OWN
  // Aggregate and joins on lang — mixing a distinct agg with a sketch
  // agg re-groups the sketch per distinct value (the q18 lesson:
  // measured 26 s). Headroom: rel_err_micro multiplies (est − exact) by
  // 1e6 — safe while the estimate is within 9e12 of exact, i.e. always
  // for a K=64 sketch whose error concentrates at ±13%.
  private val q105 = QueryDef.of(
    (s, d) => {
      // r16 fusion (§1.2): the four aggregates (per-lang/global ×
      // sketch/exact) each re-evaluated the tokenize + md5 chain —
      // four corpus passes. KMV state is a SET of hashes
      // ([[graft.functions.KmvAgg]] drops duplicates by construction),
      // so feeding the sketch the deduplicated (lang, w) frame yields
      // the bit-identical sketch; and over deduplicated rows
      // `count(*)` IS `countDistinct(w)`, so sketch + exact now ride
      // ONE aggregate each (no distinct-expand re-grouping the sketch
      // — the q18 mixed-agg trap doesn't apply once the input is
      // already distinct). One tokenize pass; the dedup shuffle
      // carries map-side-deduplicated (lang, w) partials — vocabulary-
      // bounded per partition, the same bytes the old exact pass
      // shuffled through its partial distinct.
      val kmv = udaf(graft.functions.KmvAgg)
      val wd = Tables.documents(s, d)
        .select(col("lang"),
          explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
        .distinct()
        .withColumn("h", expr(
          "cast(conv(substring(md5(w), 1, 12), 16, 10) as bigint)"))
      val perLang = wd.groupBy(col("lang")).agg(kmv(col("h")).as("sk"),
        count(lit(1)).as("exact_distinct"))
      val allRow = wd.select(col("w"), col("h")).distinct()
        .agg(kmv(col("h")).as("sk"),
          count(lit(1)).as("exact_distinct"))
      val est = """CASE WHEN size(sk) < 64 THEN cast(size(sk) AS bigint)
                  |ELSE (63L * 281474976710656L) div get(sk, 63) END"""
        .stripMargin
      perLang
        .unionByName(allRow
          .withColumn("lang", lit("*ALL*"))
          .select(col("lang"), col("sk"), col("exact_distinct")))
        .select(col("lang"), col("exact_distinct"), expr(est).as("kmv_est"))
        .withColumn("rel_err_micro", expr(
          "((kmv_est - exact_distinct) * 1000000L) div exact_distinct"))
        .orderBy(col("lang"))
    },
    """WITH tok AS (
      |  SELECT lang,
      |    unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
      |  FROM documents),
      |th AS (
      |  SELECT lang, w,
      |    CAST('0x' || substring(md5(w), 1, 12) AS BIGINT) AS h
      |  FROM tok),
      |hd AS (SELECT DISTINCT lang, h FROM th),
      |sk AS (
      |  SELECT lang, list_slice(list(h ORDER BY h), 1, 64) AS mins,
      |    COUNT(*) AS cnt
      |  FROM hd GROUP BY lang
      |  UNION ALL
      |  SELECT '*ALL*' AS lang,
      |    list_slice(list(h ORDER BY h), 1, 64) AS mins, COUNT(*) AS cnt
      |  FROM (SELECT DISTINCT h FROM th)),
      |ex AS (
      |  SELECT lang, COUNT(DISTINCT w) AS exact_distinct FROM th GROUP BY lang
      |  UNION ALL
      |  SELECT '*ALL*' AS lang, COUNT(DISTINCT w) AS exact_distinct FROM th)
      |SELECT sk.lang, exact_distinct,
      |  CASE WHEN cnt < 64 THEN cnt
      |       ELSE (63 * 281474976710656) // mins[64] END AS kmv_est,
      |  ((CASE WHEN cnt < 64 THEN cnt
      |         ELSE (63 * 281474976710656) // mins[64] END
      |    - exact_distinct) * 1000000) // exact_distinct AS rel_err_micro
      |FROM sk JOIN ex ON sk.lang = ex.lang
      |ORDER BY sk.lang""".stripMargin)

  // ------------------------------------------------------------- q175
  // Pairwise SOURCE-OVERLAP estimation from KMV sketch ALGEBRA — the
  // capability q105 only hints at: because a KMV sketch is literally
  // "the k smallest distinct hashes", the union of two sources is
  // estimated from the MERGED sketch (k smallest of the set union) and
  // the intersection by inclusion–exclusion — no re-scan of either
  // source. This is the vocabulary-overlap matrix a mixing/dedup team
  // consults before merging corpora (high overlap → near-dup sources;
  // q35 is the minhash analog at doc level). The exact intersection
  // rides along per pair, so the sketch error is measurable in the
  // output rather than asserted.
  //
  // Scale shape: sketches are one O(K)-memory pass over the raw token
  // stream (per-source partials ≤ 512 bytes); all pair algebra runs on
  // the SOURCES-BOUNDED sketch frame (|S|² pairs of 64-long arrays —
  // dozens of sources, never corpus-sized; the frame is checkpoint-
  // pinned so the two join sides don't recompute the corpus agg). The
  // exact-intersection comparison is one (source, token)-distinct
  // shuffle — vocabulary-bounded, and the one piece a pure-sketch
  // production run drops: q175b below is that production entry point
  // (sketch-only plan; shares this query's sketch frame via the
  // session memo). Estimates are integer div expressions, so the
  // oracle rebuilds every value bit-for-bit (the q105 contract).
  /** The raw (source, token, 48-bit hash) stream behind the KMV
    * sketches — shared by the sketch build and q175's gate-only exact
    * leg. */
  private def sourceTokenHashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
      .withColumn("h", expr(
        "cast(conv(substring(md5(w), 1, 12), 16, 10) as bigint)"))

  /** Per-source KMV sketch artifact — the checkpoint-pinned |S|-row
    * frame all KMV set algebra runs on. Memoized per (session, corpus)
    * so the gated (q175) and production sketch-only (q175b) entry
    * points share ONE corpus scan per session. */
  private[queries] val sourceKmvSketches =
    Artifact.frame("kmvSketches", eager = true) { (s, d) =>
      val kmv = udaf(graft.functions.KmvAgg)
      sourceTokenHashes(s, d).groupBy(col("source"))
        .agg(kmv(col("h")).as("sk")).localCheckpoint()
    }

  /** All-pairs KMV overlap algebra over the pinned sketch frame: union
    * by merged k-min, intersection by inclusion–exclusion — |S|² pairs
    * of 64-long arrays, never corpus-sized. */
  private def kmvOverlapPairs(sk: DataFrame): DataFrame = {
    def est(c: String) =
      s"""CASE WHEN size($c) < 64 THEN cast(size($c) AS bigint)
         |ELSE (63L * 281474976710656L) div element_at($c, 64) END"""
        .stripMargin
    sk.select(col("source").as("source_a"), col("sk").as("ska"))
      .join(sk.select(col("source").as("source_b"), col("sk").as("skb")),
        col("source_a") < col("source_b"))
      .withColumn("mu",
        expr("slice(array_sort(array_union(ska, skb)), 1, 64)"))
      .select(col("source_a"), col("source_b"),
        expr(est("ska")).as("est_a"), expr(est("skb")).as("est_b"),
        expr(est("mu")).as("est_union"))
      .withColumn("est_inter",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
  }

  /** Shared oracle CTE prefix for the KMV overlap algebra (q175/q175b
    * both replay it — single definition so the two oracles can't
    * drift). */
  private val kmvOverlapCtes =
    """WITH th AS MATERIALIZED (
      |  SELECT source, w, CAST('0x' || substring(md5(w), 1, 12) AS BIGINT)
      |    AS h
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |            AS w
      |        FROM documents)),
      |hd AS MATERIALIZED (SELECT DISTINCT source, h FROM th),
      |sk AS MATERIALIZED (
      |  SELECT source, list_slice(list(h ORDER BY h), 1, 64) AS mins
      |  FROM hd GROUP BY source),
      |pr AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    a.mins AS ma, b.mins AS mb,
      |    list_slice(list_sort(list_distinct(list_concat(a.mins, b.mins))),
      |      1, 64) AS mu
      |  FROM sk a JOIN sk b ON a.source < b.source),
      |es AS (
      |  SELECT source_a, source_b,
      |    CASE WHEN len(ma) < 64 THEN CAST(len(ma) AS BIGINT)
      |         ELSE (63 * 281474976710656) // ma[64] END AS est_a,
      |    CASE WHEN len(mb) < 64 THEN CAST(len(mb) AS BIGINT)
      |         ELSE (63 * 281474976710656) // mb[64] END AS est_b,
      |    CASE WHEN len(mu) < 64 THEN CAST(len(mu) AS BIGINT)
      |         ELSE (63 * 281474976710656) // mu[64] END AS est_union
      |  FROM pr)""".stripMargin

  private val q175 = QueryDef.of(
    (s, d) => {
      val pairs = kmvOverlapPairs(sourceKmvSketches.get(s, d))
      val dw = sourceTokenHashes(s, d)
        .select(col("source"), col("w")).distinct()
      val ex = dw.select(col("source").as("source_a"), col("w"))
        .join(dw.select(col("source").as("source_b"), col("w")), Seq("w"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairs.join(ex, Seq("source_a", "source_b"), "left")
        .select(col("source_a"), col("source_b"), col("est_a"),
          col("est_b"), col("est_union"), col("est_inter"),
          coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
        .orderBy(col("source_a"), col("source_b"))
    },
    s"""$kmvOverlapCtes,
      |dw AS MATERIALIZED (SELECT DISTINCT source, w FROM th),
      |ex AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(COUNT(*) AS BIGINT) AS exact_inter
      |  FROM dw a JOIN dw b ON a.w = b.w AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT es.source_a, es.source_b, est_a, est_b, est_union,
      |  GREATEST(0, est_a + est_b - est_union) AS est_inter,
      |  COALESCE(ex.exact_inter, 0) AS exact_inter
      |FROM es LEFT JOIN ex USING (source_a, source_b)
      |ORDER BY es.source_a, es.source_b""".stripMargin)

  // ------------------------------------------------------------ q175b
  // The PRODUCTION entry point of q175: sketch algebra ONLY. The gated
  // variant's exact-intersection leg is a full (source, token)-distinct
  // corpus shuffle — precisely the work the KMV operator exists to
  // avoid — so a production overlap matrix at 100 TB runs THIS query:
  // its plan touches nothing but the pinned |S|-row sketch frame (zero
  // corpus scans beyond the sketch build, which the session shares with
  // q175 via the memo). Same estimates bit-for-bit; the oracle replays
  // the same CTE prefix (r10 VERDICT #3).
  private val q175b = QueryDef.of(
    (s, d) => kmvOverlapPairs(sourceKmvSketches.get(s, d))
      .orderBy(col("source_a"), col("source_b")),
    s"""$kmvOverlapCtes
      |SELECT source_a, source_b, est_a, est_b, est_union,
      |  GREATEST(0, est_a + est_b - est_union) AS est_inter
      |FROM es
      |ORDER BY source_a, source_b""".stripMargin)

  // ------------------------------------------------------------- q177
  // DISTRIBUTION drift per source: exact total-variation distance
  // between each source's token distribution and the whole-corpus
  // distribution — the "is this source lexically unlike the rest"
  // readout next to q175's SET overlap (TV sees frequency shifts that
  // set algebra can't; KL/cross-entropy would need ln, which no two
  // engines round identically — TV is RATIONAL in the counts, so the
  // common-denominator form is bit-exact). With per-source counts c_sw
  // (total T_s) and corpus counts c_w (total T):
  //   tv = Σ_w |c_sw/T_s − c_w/T| / 2
  //      = (Σ_{w∈s} |c_sw·T − c_w·T_s| + T_s·(T − Σ_{w∈s} c_w))
  //        / (2·T_s·T)
  // — the second term folds EVERY corpus term absent from s through
  // one residual (Σ_{w∉s} c_w·T_s), so no source × vocabulary cross
  // product ever materializes. tv_ppm = (numerator·10⁶) div denom.
  //
  // Scale shape: one (source, token) aggregate (map-side partials over
  // the token stream), CHECKPOINT-PINNED like its siblings (q175's
  // sketch frame, q178's centroid frame, q180's bucket frame) — the
  // token marginal, the per-source totals, AND the join probe all read
  // the pinned frame, so the corpus is scanned exactly once, at
  // construction. (r10 lesson: relying on Catalyst exchange reuse here
  // only partially fired — the marginal's branch lacked the
  // IsNotNull(source) pushed filter of the join branch, breaking
  // canonical plan equality, and the final plan scanned the corpus
  // TWICE. The pin makes single-scan structural, not optimizer-
  // dependent.) One vocab-bounded join back, sources-bounded everything
  // after. Headroom: Σ|c_sw·T − c_w·T_s| ≤ 2·T_s·T, so
  // decimal(38,0)/HUGEINT carries the solve to T ≈ 7e18 tokens.
  // ------------------------------------------------------------- q180
  // HASHED-bucket distribution drift — the oracle-checked BATCH TWIN of
  // the standing [[graft.streaming.IncrementalDrift]] stage, completing
  // the house pattern where every standing fold has a batch query in
  // the correctness gate (q120→IncrementalDedup, q166→HeavyHitters,
  // q105→IncrementalDistinct). Same contract as the stage: tokens fold
  // into 2^13 md5 buckets (the q126 contract — state O(2^13) REGARDLESS
  // of vocabulary, where q177's per-token TV is vocabulary-sized; the
  // bucketing is the scale trade, taken once, in both twins), reference
  // = the even-doc_id half of the corpus (the stage's "frozen training
  // snapshot"), current = the whole corpus. Output: the five most
  // drifted buckets (per-bucket TV contribution in ppm) with the global
  // TV riding along — the exact numbers the streaming pager would show.
  //
  // Scale shape: ONE corpus scan into one (bucket)-keyed aggregate
  // (map-side partials; reference counts ride the same aggregate as a
  // conditional count — no second scan), then all algebra on the
  // checkpoint-pinned ≤2^13-row frame: the totals reduce to one row
  // that broadcast-joins back. Headroom: contributions are |c_b·T_r −
  // r_b·T| ≤ T·T_r, so decimal(38,0)/HUGEINT carries the ppm solve to
  // T ≈ 4e15 tokens.
  private val q180 = QueryDef.of(
    (s, d) => {
      val bucketed = graft.Resources.retain(
        Tables.documents(s, d)
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
          .select(col("doc_id"),
            expr(graft.streaming.IncrementalDrift.bucketExpr("w")).as("b"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("cur_c"),
            count(when(col("doc_id") % 2 === 0, 1)).as("ref_c"))
          .localCheckpoint())
      val tot = bucketed.agg(
        sum(col("cur_c")).as("t"), sum(col("ref_c")).as("tr"))
      val contrib = bucketed.crossJoin(broadcast(tot))
        .withColumn("num", expr(
          """abs(cast(cur_c as decimal(38,0)) * tr
            |  - cast(ref_c as decimal(38,0)) * t)""".stripMargin))
      // GREATEST(·, 1) guard: an empty reference half (or corpus) must
      // yield 0-ppm rows, not an ANSI divide-by-zero (the q157 lesson)
      val tv = contrib.agg(sum(col("num")).as("numsum"),
          first(col("t")).as("t"), first(col("tr")).as("tr"))
        .select(expr(
          """cast((numsum * 1000000)
            |  div greatest(2 * cast(t as decimal(38,0)) * tr, 1) as long)"""
            .stripMargin).as("tv_ppm"))
      contrib
        .select(col("b"), col("cur_c"), col("ref_c"),
          expr("""cast((num * 1000000)
                |  div greatest(2 * cast(t as decimal(38,0)) * tr, 1)
                |  as long)"""
            .stripMargin).as("contrib_ppm"))
        .orderBy(col("contrib_ppm").desc, col("b"))
        .limit(5)
        .crossJoin(broadcast(tv))
        .orderBy(col("contrib_ppm").desc, col("b"))
    },
    s"""WITH bk AS MATERIALIZED (
       |  SELECT CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 8192
       |      AS b,
       |    CAST(COUNT(*) AS BIGINT) AS cur_c,
       |    CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS ref_c
       |  FROM (SELECT doc_id,
       |          unnest(list_filter(string_split(text, ' '), t -> t <> ''))
       |            AS w
       |        FROM documents)
       |  GROUP BY 1),
       |tot AS (SELECT CAST(SUM(cur_c) AS BIGINT) AS t,
       |               CAST(SUM(ref_c) AS BIGINT) AS tr FROM bk),
       |ct AS (
       |  SELECT b, cur_c, ref_c,
       |    abs(CAST(cur_c AS HUGEINT) * tr - CAST(ref_c AS HUGEINT) * t)
       |      AS num, t, tr
       |  FROM bk CROSS JOIN tot),
       |tv AS (
       |  SELECT CAST((SUM(num) * 1000000)
       |    // GREATEST(2 * CAST(ANY_VALUE(t) AS HUGEINT) * ANY_VALUE(tr), 1)
       |    AS BIGINT) AS tv_ppm FROM ct)
       |SELECT b, cur_c, ref_c,
       |  CAST((num * 1000000)
       |    // GREATEST(2 * CAST(t AS HUGEINT) * tr, 1) AS BIGINT)
       |    AS contrib_ppm,
       |  (SELECT tv_ppm FROM tv) AS tv_ppm
       |FROM ct
       |ORDER BY contrib_ppm DESC, b LIMIT 5""".stripMargin)

  private val q177 = QueryDef.of(
    (s, d) => {
      val sw = graft.Resources.retain(
        Tables.documents(s, d)
          .select(col("source"),
            explode(expr("filter(split(text, ' '), t -> t <> '')")).as("w"))
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c_sw"))
          .localCheckpoint())
      val byW = sw.groupBy(col("w")).agg(sum(col("c_sw")).as("c_w"))
      val byS = sw.groupBy(col("source")).agg(sum(col("c_sw")).as("t_s"))
      val tot = byS.agg(sum(col("t_s")).as("t"))
      val joined = sw.join(byW, "w").join(broadcast(byS), "source")
        .crossJoin(broadcast(tot))
      joined.groupBy(col("source"))
        .agg(
          sum(expr("""abs(cast(c_sw as decimal(38,0)) * t
                    |  - cast(c_w as decimal(38,0)) * t_s)""".stripMargin))
            .as("num_present"),
          sum(col("c_w")).as("mass_present"),
          first(col("t_s")).as("t_s"), first(col("t")).as("t"))
        .select(col("source"), col("t_s").as("n_tokens"),
          expr("""cast(((num_present
                |    + cast(t_s as decimal(38,0)) * (t - mass_present))
                |  * 1000000)
                |  div (2 * cast(t_s as decimal(38,0)) * t) as long)"""
            .stripMargin).as("tv_ppm"))
        .orderBy(col("source"))
    },
    """WITH sw AS MATERIALIZED (
      |  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
      |  FROM (SELECT source,
      |          unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |            AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |bw AS MATERIALIZED (
      |  SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY w),
      |bs AS MATERIALIZED (
      |  SELECT source, CAST(SUM(c_sw) AS BIGINT) AS t_s
      |  FROM sw GROUP BY source),
      |tt AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t FROM bs),
      |agg AS (
      |  SELECT sw.source,
      |    SUM(abs(CAST(sw.c_sw AS HUGEINT) * tt.t
      |      - CAST(bw.c_w AS HUGEINT) * bs.t_s)) AS num_present,
      |    CAST(SUM(bw.c_w) AS BIGINT) AS mass_present,
      |    ANY_VALUE(bs.t_s) AS t_s, ANY_VALUE(tt.t) AS t
      |  FROM sw JOIN bw USING (w) JOIN bs ON sw.source = bs.source
      |  CROSS JOIN tt
      |  GROUP BY sw.source)
      |SELECT source, t_s AS n_tokens,
      |  CAST(((num_present + CAST(t_s AS HUGEINT) * (t - mass_present))
      |    * 1000000) // (2 * CAST(t_s AS HUGEINT) * t) AS BIGINT)
      |    AS tv_ppm
      |FROM agg ORDER BY source""".stripMargin)

  // ------------------------------------------------------------- q118
  // Tokenizer evaluation (fertility / compression / OOV): train BPE on
  // the 80% doc_id-split of the corpus, encode the HELD-OUT 20%, report
  // per-language tokens-per-word and chars-per-token in integer
  // micro-units plus the OOV count — the eval a tokenizer team runs
  // before shipping a vocab (fertility spikes on a language = that
  // language pays more sequence length per word). The oracle replays
  // the whole split-trained merge chain (shared CTEs with q88/q100).
  // Scale shape: the encoder table is |train vocab| (broadcasts at
  // scale); held-out words join it key-to-key; one lang-keyed aggregate.
  private val q118 = QueryDef.of(
    (s, d) => {
      val (_, fin) = trainedBpe.get(s, d, "train80")
      val encoder = fin.select(col("word"),
        expr("cast(size(filter(split(s, '  '), x -> x != '')) as bigint)")
          .as("w_tokens"))
      val heldout = Tables.documents(s, d)
        .filter(col("doc_id") % 10 >= 8)
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
      heldout.join(encoder, Seq("word"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"),
          count(col("w_tokens")).as("n_known"),
          sum(coalesce(col("w_tokens"), lit(0L))).as("n_tokens"),
          sum(when(col("w_tokens").isNotNull, length(col("word")))
            .otherwise(0)).cast("bigint").as("n_chars"))
        .select(col("lang"), col("n_words"),
          (col("n_words") - col("n_known")).as("n_oov"),
          expr("""CASE WHEN n_known = 0 THEN 0L
                 |ELSE (1000000L * n_tokens) div n_known END""".stripMargin)
            .as("fertility_micro"),
          expr("""CASE WHEN n_tokens = 0 THEN 0L
                 |ELSE (1000000L * n_chars) div n_tokens END""".stripMargin)
            .as("chars_per_token_micro"))
        .orderBy(col("lang"))
    },
    s"""WITH ${bpeTrainCtesWhere("WHERE doc_id % 10 < 8")},
       |wt AS (
       |  SELECT word,
       |    CAST(len(list_filter(string_split(s, '  '), x -> x <> ''))
       |      AS BIGINT) AS w_tokens
       |  FROM s$BpeSteps),
       |hw AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE doc_id % 10 >= 8),
       |j AS (
       |  SELECT lang, hw.word AS word, w_tokens
       |  FROM (SELECT * FROM hw WHERE word <> '') hw
       |  LEFT JOIN wt USING (word)),
       |agg AS (
       |  SELECT lang, COUNT(*) AS n_words, COUNT(w_tokens) AS n_known,
       |    CAST(COALESCE(SUM(w_tokens), 0) AS BIGINT) AS n_tokens,
       |    CAST(COALESCE(SUM(CASE WHEN w_tokens IS NOT NULL
       |      THEN len(word) ELSE 0 END), 0) AS BIGINT) AS n_chars
       |  FROM j GROUP BY lang)
       |SELECT lang, n_words, n_words - n_known AS n_oov,
       |  CASE WHEN n_known = 0 THEN 0
       |       ELSE (1000000 * n_tokens) // n_known END AS fertility_micro,
       |  CASE WHEN n_tokens = 0 THEN 0
       |       ELSE (1000000 * n_chars) // n_tokens END
       |    AS chars_per_token_micro
       |FROM agg
       |ORDER BY lang""".stripMargin)

  // ------------------------------------------------------------- q119
  // k-anonymity suppressed reporting: the (lang, source) breakdown a
  // data-release pipeline publishes, with every cell under k = 6 docs
  // folded into a '*OTHER*' bucket instead of being printed — small
  // cells are the re-identification risk, but their MASS must be
  // preserved (the *OTHER* row keeps totals auditable). Two grouped
  // aggregates; the suppression predicate is pure column logic, so both
  // engines derive the identical release.
  private val q119 = QueryDef.of(
    (s, d) => {
      val k = 6
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .select(
          when(col("n") >= k, col("lang")).otherwise(lit("*OTHER*"))
            .as("lang"),
          when(col("n") >= k, col("source")).otherwise(lit("*OTHER*"))
            .as("source"),
          col("n"))
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_cells"))
        .orderBy(col("lang"), col("source"))
    },
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS n
      |  FROM documents GROUP BY lang, source),
      |rel AS (
      |  SELECT CASE WHEN n >= 6 THEN lang ELSE '*OTHER*' END AS lang,
      |    CASE WHEN n >= 6 THEN source ELSE '*OTHER*' END AS source, n
      |  FROM cells)
      |SELECT lang, source, CAST(SUM(n) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_cells
      |FROM rel GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin)

  // ------------------------------------------------------------- q122
  // Robust outlier detection via median absolute deviation: per-lang
  // document-length median and MAD (two GK-sketch passes with derived
  // oracle-exact accuracy — the q19 machinery), outliers = docs whose
  // |len − median| exceeds 3×MAD. MAD tolerates the very outliers a
  // mean/std rule would absorb — the robust data-cleaning gate. Scale
  // shape: two lang-keyed sketch aggregates (O(accuracy) memory each)
  // plus broadcast-sized per-lang stat joins; the corpus is scanned
  // twice and never shuffled beyond (lang, len) pairs.
  private val q122 = QueryDef.of(
    (s, d) => {
      // r16 (§1.2/§5): the sizing head(), the median pass, the MAD
      // pass and the outlier pass each re-read the TEXT column just to
      // take its length — four full-width corpus scans. Pin the
      // 16-byte (lang, len) proxy once; every downstream pass runs on
      // the pin (guide §8: decide on small rows). The GK sketches,
      // join shapes and arithmetic are untouched.
      val docs = graft.Resources.retain(
        Tables.documents(s, d).select(col("lang"),
          length(col("text")).cast("long").as("len"))
          .localCheckpoint())
      val acc = {
        val sized = docs.groupBy(col("lang")).count()
          .agg(max(col("count"))).head()
        val maxGroup = if (sized.isNullAt(0)) 0L else sized.getLong(0)
        Relational.gkAccuracy(maxGroup).toInt
      }
      val med = docs.groupBy(col("lang"))
        .agg(percentile_approx(col("len"), lit(0.5), lit(acc)).as("med"))
      val dev = docs.join(broadcast(med), Seq("lang"))
        .withColumn("adev", abs(col("len") - col("med")))
      val mad = dev.groupBy(col("lang"))
        .agg(percentile_approx(col("adev"), lit(0.5), lit(acc)).as("mad"))
      dev.join(broadcast(mad), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("med")).as("med_len"), min(col("mad")).as("mad"),
          sum(when(col("adev") > lit(3) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("lang"))
    },
    """WITH d AS (
      |  SELECT lang, CAST(length(text) AS BIGINT) AS len FROM documents),
      |med AS (
      |  SELECT lang, quantile_disc(len, 0.5) AS med FROM d GROUP BY lang),
      |dev AS (
      |  SELECT d.lang, len, med, abs(len - med) AS adev
      |  FROM d JOIN med USING (lang)),
      |mad AS (
      |  SELECT lang, quantile_disc(adev, 0.5) AS mad FROM dev GROUP BY lang)
      |SELECT dev.lang, COUNT(*) AS n_docs, MIN(med) AS med_len,
      |  MIN(mad) AS mad,
      |  CAST(SUM(CASE WHEN adev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev JOIN mad USING (lang)
      |GROUP BY dev.lang
      |ORDER BY lang""".stripMargin)

  // ------------------------------------------------------------- q169
  // Vocabulary-growth curve (Heaps' law readout) over 3-gram types: how
  // many NEW distinct trigrams each doc-id decile of the corpus
  // introduces, plus the cumulative vocabulary — the
  // diminishing-returns diagnostic for "will more of this source still
  // add new content", and a drift check between crawl generations
  // (q103's frequency view at the type level). First occurrence = min
  // doc_id, the q167 ordering.
  //
  // Scale shape: the only corpus-sized shuffle is the trigram-keyed
  // min(doc_id) aggregate (map-side partial min; shuffle carries the
  // grams once each); the decile mapping is a map-side expression
  // against one broadcast 1-row count; the curve itself is a 10-row
  // frame and its cumsum window. Empty deciles report 0 via the
  // decile-spine outer join.
  private val q169 = QueryDef.of(
    (s, d) => {
      val nDocs = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"))
      // raw explode: the gram-keyed min ignores per-doc duplicates, so
      // array_distinct buys nothing and (measured) only costs
      val firstSeen = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), t -> t <> '')").as("tk"))
        .select(col("doc_id"),
          explode(expr(TextExprs.shingles3("tk"))).as("g"))
        .groupBy(col("g")).agg(min(col("doc_id")).as("fdoc"))
      val perDecile = firstSeen.crossJoin(broadcast(nDocs))
        .select(expr("least(9L, (fdoc * 10) div n_docs)").as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
      val spine = s.range(10).toDF("decile")
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(perDecile, Seq("decile"), "left")
        .select(col("decile"),
          coalesce(col("new_types"), lit(0L)).as("new_types"))
        .withColumn("cum_vocab", sum(col("new_types")).over(w))
        .orderBy(col("decile"))
    },
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tk
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(CASE WHEN len(tk) >= 3 THEN
      |      list_transform(range(1, len(tk) - 1),
      |        i -> array_to_string(list_slice(tk, i, i + 2), ' '))
      |      ELSE [] END)) AS g
      |  FROM toks),
      |fs AS (SELECT g, MIN(doc_id) AS fdoc FROM grams GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |per AS (
      |  SELECT LEAST(9, (fdoc * 10) // nd.n_docs) AS decile,
      |    CAST(COUNT(*) AS BIGINT) AS new_types
      |  FROM fs, nd GROUP BY 1),
      |spine AS (SELECT unnest(range(0, 10)) AS decile)
      |SELECT s.decile,
      |  CAST(COALESCE(p.new_types, 0) AS BIGINT) AS new_types,
      |  CAST(SUM(COALESCE(p.new_types, 0)) OVER (ORDER BY s.decile
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
      |FROM spine s LEFT JOIN per p USING (decile)
      |ORDER BY s.decile""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q169_vocab_growth" -> q169,
    "q122_mad_outliers" -> q122,
    "q119_k_anonymity" -> q119,
    "q118_tokenizer_eval" -> q118,
    "q105_kmv_distinct" -> q105,
    "q175_source_overlap" -> q175,
    "q175b_source_overlap_sketch" -> q175b,
    "q177_source_divergence" -> q177,
    "q180_hashed_drift" -> q180,
    "q185_cms_join_size" -> q185,
    "q185b_cms_join_size_sketch" -> q185b,
    "q107_pmi_collocations" -> q107,
    "q92_lm_quality" -> q92,
    "q143_quality_curriculum" -> q143,
    "q145_winnowing" -> q145,
    "q146_diversity_index" -> q146,
    "q93_linear_classifier" -> q93,
    "q126_dsir_selection" -> q126,
    "q88_bpe_vocab" -> q88,
    "q100_bpe_encode" -> q100,
    "q103_token_drift" -> q103,
    "q63_term_salience" -> q63,
    "q77_bm25_retrieval" -> q77,
    "q162_rbp_ranking_eval" -> q162,
    "q81_cms_heavy_hitters" -> q81,
    "q78_source_cap" -> q78,
    "q79_shard_shuffle" -> q79,
    "q68_pii_redaction" -> q68,
    "q69_gopher_quality" -> q69,
    "q70_repetition_ratio" -> q70,
    "q73_decontaminate" -> q73,
    "q74_sequence_packing" -> q74,
    "q75_inverted_index" -> q75,
    "q76_mixture_sample" -> q76,
    "q66_contamination" -> q66,
    "q67_chunking" -> q67,
    "q50_token_stats" -> q50,
    "q51_quality_score" -> q51,
    "q52_langid" -> q52,
    "q53_fingerprint" -> q53,
    "q54_token_frequencies" -> q54,
    "q55_hash_sample" -> q55,
    "q56_stratified_sample" -> q56)
}
