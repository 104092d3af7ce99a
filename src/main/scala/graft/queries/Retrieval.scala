package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid (lexical + dense) retrieval with reciprocal-rank fusion — the
  * retrieval stack a RAG/eval pipeline runs: BM25 over text and cosine
  * over embeddings produce independent rankings, fused by RRF
  * (Cormack et al., SIGIR'09: score = Σ 1/(k + rank), k = 60).
  *
  * Query model is "more-like-this": each probe is a document that has an
  * embedding; its lexical query is the probe's first 5 distinct tokens
  * and its dense query is the probe's embedding. The fused corpus is
  * `documents ⋈ embeddings` (docs that have vectors — at sf0.1 the
  * embedding table covers 2000 of 5000 docs, so the join IS the corpus
  * definition, not an optimization).
  *
  * Scale shape: both rankers broadcast the 3-probe frame onto corpus
  * scans (bodies/vectors never shuffle); the per-ranker top-50 lists are
  * tiny, so the fusion join is a kilobyte-scale shuffle. At 100 TB the
  * dense side swaps in the IVF-pruned scan (q42b/q44) without touching
  * the fusion — ranks are the interface.
  *
  * Determinism: RRF contributions are integer micro-units
  * (1000000 div (60 + rank)) — pure BIGINT math, no float fusion; the
  * BM25 side inherits q77's rational-idf + sorted-term-fold contract and
  * the dense side q40's left-fold cosine, both bit-exact vs DuckDB.
  */
object Retrieval {

  private val ProbeIds = Seq(1, 2, 3)
  private val TopPerRanker = 50

  // ------------------------------------------------------------- q89
  private val q89 = QueryDef.of(
    (s, d) => {
      // the joined corpus is referenced by probes, the term pipeline,
      // the doc count AND the dense scan — pin it or the join+norm
      // recompute per reference (the iterative-chain trap, NOTES);
      // plain localCheckpoint keeps scan parallelism for the explode/
      // cosine consumers (compaction would serialize them)
      // n_docs rides the corpus pin job as an observed metric (no
      // separate count job / broadcast — it reaches the BM25 weight as
      // a literal; same long, same downstream IEEE arithmetic)
      val (corpus, corpusStats) = graft.Tuning.checkpointWithStats(
        Tables.documents(s, d)
          .join(Tables.embeddings(s, d)
            .select(col("vec_id").as("doc_id"), col("embedding")),
            Seq("doc_id"))
          .withColumn("emb_norm", expr("vec_norm(embedding)"))
          .select(col("doc_id"), col("text"), col("embedding"),
            col("emb_norm")),
        count(lit(1)).as("n_docs"))
      val nDocs = corpusStats("n_docs").asInstanceOf[Long]
      val probes = corpus
        .filter(col("doc_id").isin(ProbeIds.map(Int.box): _*))
        .select(col("doc_id").as("query_id"),
          expr("array_sort(array_distinct(slice(split(text, ' '), 1, 5)))")
            .as("qtokens"),
          col("embedding").as("qemb"), col("emb_norm").as("qnorm"))

      // ---- lexical: BM25 (q77 contract) over the joined corpus
      val qterms = probes
        .select(col("query_id"), explode(col("qtokens")).as("term"))
      val terms = corpus
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      // tf feeds dl, df AND the scored join — pin it so the token
      // explode + (doc, term) shuffle run once, not three times; the
      // corpus token total (avgdl's numerator) rides the pin job as an
      // observed metric (sum over tf's n_dt ≡ sum over dl — same exact
      // integer)
      val (tf, tfStats) = graft.Tuning.checkpointWithStats(
        terms.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("n_dt")),
        sum(col("n_dt")).as("tot"))
      val totTokens = tfStats("tot").asInstanceOf[Long]
      // avgdl: the identical double division of the two exact longs the
      // frame-form computed (tot.cast(double) / n_docs) — now a literal
      val avgdl = totTokens.toDouble / nDocs.toDouble
      // slot retention: one generation of these corpus-sized pins,
      // the previous invocation's copies release on re-entry
      graft.Resources.retainSlot(
        s"q89:${graft.Resources.sessionKey(s)}:$d", corpus, tf)
      // dl/df derive from tf (one row per distinct (doc, term)) — the
      // raw token stream is shuffled exactly once (q77's contract)
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("n_dt")).as("dl"))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df_t"))
      val lexScored = tf
        .join(broadcast(qterms), Seq("term"))
        .filter(col("doc_id") =!= col("query_id"))
        .join(dl, Seq("doc_id"))
        .join(broadcast(dfT.join(
          broadcast(qterms.select(col("term")).distinct()), Seq("term"))),
          Seq("term"))
        .withColumn("n_docs", lit(nDocs))
        .withColumn("avgdl", lit(avgdl))
        .withColumn("w", expr(
          """((cast(n_docs as double) - cast(df_t as double) + 0.5) / (cast(df_t as double) + 0.5))
            | * ((cast(n_dt as double) * 2.2)
            |    / (cast(n_dt as double) + 1.2 * (0.25 + 0.75 * (cast(dl as double) / avgdl))))"""
            .stripMargin))
      val wLex = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val lex = lexScored.groupBy(col("query_id"), col("doc_id"))
        .agg(expr(
          """aggregate(sort_array(collect_list(struct(term, w))),
            |  cast(0.0 as double), (acc, x) -> acc + x.w)""".stripMargin)
          .as("score"))
        .withColumn("rank_lex", row_number().over(wLex))
        .filter(col("rank_lex") <= TopPerRanker)
        .select(col("query_id"), col("doc_id"), col("rank_lex"))

      // ---- dense: brute-force cosine (q40 contract)
      val wDen = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val dense = corpus
        .join(broadcast(probes.select(col("query_id"), col("qemb"),
          col("qnorm"))), col("doc_id") =!= col("query_id"))
        .withColumn("score",
          expr("dot_product(qemb, embedding) / (qnorm * emb_norm)"))
        .withColumn("rank_dense", row_number().over(wDen))
        .filter(col("rank_dense") <= TopPerRanker)
        .select(col("query_id"), col("doc_id"), col("rank_dense"))

      // ---- reciprocal-rank fusion (integer micro-units)
      val wRrf = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
      lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro", expr(
          "coalesce(1000000 div (60 + rank_lex), cast(0 as bigint)) + " +
            "coalesce(1000000 div (60 + rank_dense), cast(0 as bigint))"))
        .withColumn("rrf_rank", row_number().over(wRrf))
        .filter(col("rrf_rank") <= 10)
        .select(col("query_id"), col("rrf_rank"), col("doc_id"),
          col("rrf_micro"),
          coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
          coalesce(col("rank_dense"), lit(0)).as("rank_dense"))
        .orderBy(col("query_id"), col("rrf_rank"))
    },
    s"""WITH corpus AS (
       |  SELECT d.doc_id, d.text, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |probes AS (
       |  SELECT doc_id AS query_id,
       |    list_sort(list_distinct((string_split(text, ' '))[1:5])) AS qtokens,
       |    embedding AS qe
       |  FROM corpus WHERE doc_id IN (${ProbeIds.mkString(", ")})),
       |q AS (SELECT query_id, unnest(qtokens) AS term FROM probes),
       |terms AS (
       |  SELECT doc_id, u.term FROM corpus,
       |    unnest(string_split(text, ' ')) u(term) WHERE u.term <> ''),
       |tf AS (SELECT doc_id, term, COUNT(*) AS n_dt FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM terms GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM corpus),
       |avg AS (SELECT n_docs, CAST(SUM(dl) AS DOUBLE) / n_docs AS avgdl
       |        FROM dl, n GROUP BY n_docs),
       |lexscored AS (
       |  SELECT q.query_id, tf.doc_id, tf.term,
       |    ((CAST(n_docs AS DOUBLE) - CAST(df_t AS DOUBLE) + 0.5) / (CAST(df_t AS DOUBLE) + 0.5))
       |     * ((CAST(n_dt AS DOUBLE) * 2.2)
       |        / (CAST(n_dt AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))) AS w
       |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id)
       |       JOIN df USING (term) CROSS JOIN avg
       |  WHERE tf.doc_id <> q.query_id),
       |lexdoc AS (
       |  SELECT query_id, doc_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(w ORDER BY term)),
       |      (a, b) -> a + b) AS score
       |  FROM lexscored GROUP BY 1, 2),
       |lex AS (
       |  SELECT query_id, doc_id, rank_lex FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank_lex FROM lexdoc)
       |  WHERE rank_lex <= $TopPerRanker),
       |densescored AS (
       |  SELECT p.query_id, c.doc_id,
       |    ${Similarity.sqlCos("qe", "c.embedding")} AS score
       |  FROM probes p CROSS JOIN corpus c WHERE c.doc_id <> p.query_id),
       |dense AS (
       |  SELECT query_id, doc_id, rank_dense FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank_dense FROM densescored)
       |  WHERE rank_dense <= $TopPerRanker),
       |fused AS (
       |  SELECT COALESCE(l.query_id, de.query_id) AS query_id,
       |    COALESCE(l.doc_id, de.doc_id) AS doc_id,
       |    COALESCE(1000000 // (60 + rank_lex), 0)
       |      + COALESCE(1000000 // (60 + rank_dense), 0) AS rrf_micro,
       |    COALESCE(rank_lex, 0) AS rank_lex,
       |    COALESCE(rank_dense, 0) AS rank_dense
       |  FROM lex l FULL JOIN dense de
       |    ON l.query_id = de.query_id AND l.doc_id = de.doc_id),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf_micro DESC, doc_id) AS rrf_rank FROM fused)
       |SELECT query_id, rrf_rank, doc_id, rrf_micro, rank_lex, rank_dense
       |FROM ranked WHERE rrf_rank <= 10
       |ORDER BY query_id, rrf_rank""".stripMargin)

  // ------------------------------------------------------------- q125
  // MMR-diversified top-k (Carbonell & Goldstein, SIGIR'98): greedily
  // re-rank a BOUNDED candidate list so each pick maximizes
  // λ·relevance − (1−λ)·max-similarity-to-already-picked — the context
  // selection step of a RAG pipeline (relevance alone returns near-
  // duplicate passages; MMR trades a little relevance for coverage).
  //
  // Scale shape: relevance candidates come from the ANN stack (here
  // q40's brute-force contract; q42/q44's pruned scans at 100 TB), so
  // the greedy only ever sees C=30 rows per query. The candidate
  // pairwise-sim matrix is C·(C−1) rows built from TWO broadcast
  // id-joins against the corpus (candidate vectors are fetched by id —
  // the bloom point-lookup path at scale, a pruned scan here); the
  // greedy itself runs per-query inside flatMapGroups — MMR is
  // inherently sequential WITHIN a query (each pick conditions the
  // next), so the right distribution is across queries: one shuffle of
  // ~C² tiny rows per query, then embarrassing parallelism over
  // millions of queries, zero driver participation.
  //
  // Determinism: relevance and pair similarity are floored to integer
  // micro-units FIRST; the greedy is pure BIGINT (λ = 0.7 as 7/3
  // integer weights: score = 7·rel − 3·maxsim) with doc_id-ascending
  // tie-breaks. The DuckDB oracle replays all K greedy steps as
  // unrolled CTEs — bit-for-bit, no float comparison anywhere.
  private val MmrProbes = Seq(1, 2, 3)
  private val MmrC = 30 // candidate pool per query
  private val MmrK = 10 // picks per query

  private val q125 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val probes = emb
        .filter(col("vec_id").isin(MmrProbes.map(Int.box): _*))
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val scoredAll = emb
        .join(broadcast(probes), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("doc_id"),
          expr("cast(floor(1000000 * cosine_sim(qe, embedding)) as bigint)")
            .as("rel_micro"))
      val wRel = Window.partitionBy(col("query_id"))
        .orderBy(col("rel_micro").desc, col("doc_id"))
      val cands = scoredAll.withColumn("r", row_number().over(wRel))
        .filter(col("r") <= MmrC)
        .select(col("query_id"), col("doc_id"), col("rel_micro"))
      // candidate vectors fetched by id: broadcast the (bounded) id set
      // onto a corpus scan — never the corpus onto anything
      val candVecs = emb
        .join(broadcast(cands.select(col("doc_id")).distinct()),
          col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("embedding"))
      val pairs = cands.as("x")
        .join(cands.as("y"),
          col("x.query_id") === col("y.query_id") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(col("x.query_id").as("query_id"), col("x.doc_id").as("a"),
          col("x.rel_micro").as("rel_micro"), col("y.doc_id").as("b"))
        .join(broadcast(candVecs.select(col("doc_id").as("a"),
          col("embedding").as("ea"))), Seq("a"))
        .join(broadcast(candVecs.select(col("doc_id").as("b"),
          col("embedding").as("eb"))), Seq("b"))
        .select(col("query_id"), col("a"), col("b"), col("rel_micro"),
          expr("cast(floor(1000000 * cosine_sim(ea, eb)) as bigint)")
            .as("sim_micro"))
        .as[MmrPairRow]
      val picked = pairs.groupByKey(_.query_id).flatMapGroups {
        (q: Long, it: Iterator[MmrPairRow]) =>
          val rel = collection.mutable.LongMap.empty[Long]
          val sim = collection.mutable.HashMap.empty[(Long, Long), Long]
          it.foreach { p =>
            rel(p.a) = p.rel_micro
            sim((p.a, p.b)) = p.sim_micro
          }
          val docs = rel.keys.toArray.sorted // ascending id = tie order
          val selected = collection.mutable.ArrayBuffer.empty[Long]
          val out = collection.mutable.ArrayBuffer.empty[MmrPick]
          while (out.length < MmrK && selected.length < docs.length) {
            var bestDoc = -1L
            var bestScore = Long.MinValue
            docs.foreach { c =>
              if (!selected.contains(c)) {
                val score =
                  if (selected.isEmpty) 7L * rel(c)
                  else {
                    var mx = Long.MinValue
                    selected.foreach { sId =>
                      val v = sim((c, sId))
                      if (v > mx) mx = v
                    }
                    7L * rel(c) - 3L * mx
                  }
                if (score > bestScore) { bestScore = score; bestDoc = c }
              }
            }
            selected += bestDoc
            out += MmrPick(q, out.length + 1, bestDoc, bestScore)
          }
          out.iterator
      }
      picked.toDF()
        .select(col("query_id"), col("mmr_rank"), col("doc_id"),
          col("mmr_micro"))
        .orderBy(col("query_id"), col("mmr_rank"))
    },
    s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS query_id, embedding AS qe
       |  FROM embeddings WHERE vec_id IN (${MmrProbes.mkString(", ")})),
       |scoredall AS (
       |  SELECT p.query_id, c.vec_id AS doc_id,
       |    CAST(FLOOR(1000000 * ${Similarity.sqlCos("qe", "c.embedding")})
       |      AS BIGINT) AS rel_micro
       |  FROM probes p CROSS JOIN corpus c WHERE c.vec_id <> p.query_id),
       |cands AS MATERIALIZED (
       |  SELECT query_id, doc_id, rel_micro FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel_micro DESC, doc_id) AS r FROM scoredall)
       |  WHERE r <= $MmrC),
       |pairsim AS MATERIALIZED (
       |  SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
       |    CAST(FLOOR(1000000 * ${Similarity.sqlCos("ea.embedding",
            "eb.embedding")}) AS BIGINT) AS sim_micro
       |  FROM cands x
       |  JOIN cands y ON x.query_id = y.query_id AND x.doc_id <> y.doc_id
       |  JOIN corpus ea ON ea.vec_id = x.doc_id
       |  JOIN corpus eb ON eb.vec_id = y.doc_id),
       |p1 AS (
       |  SELECT query_id, doc_id, 7 * rel_micro AS mmr_micro,
       |    1 AS mmr_rank
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rel_micro DESC, doc_id) AS r FROM cands)
       |  WHERE r = 1),
       |a1 AS MATERIALIZED (SELECT * FROM p1),
       |$mmrStepCtes
       |SELECT query_id, mmr_rank, doc_id, mmr_micro FROM a$MmrK
       |ORDER BY query_id, mmr_rank""".stripMargin)

  /** Unrolled greedy steps 2..K: each step scores every unpicked
    * candidate as 7·rel − 3·max-sim-to-picked, takes the argmax
    * (doc_id-ascending ties), and appends it to the running selection —
    * the same integer recurrence the Spark flatMapGroups runs. */
  private def mmrStepCtes: String = (2 to MmrK).map { i =>
    s"""st$i AS (
       |  SELECT c.query_id, c.doc_id,
       |    7 * c.rel_micro - 3 * (
       |      SELECT MAX(ps.sim_micro) FROM pairsim ps
       |      JOIN a${i - 1} s ON s.query_id = ps.query_id
       |        AND s.doc_id = ps.b
       |      WHERE ps.query_id = c.query_id AND ps.a = c.doc_id)
       |      AS mmr
       |  FROM cands c
       |  WHERE NOT EXISTS (SELECT 1 FROM a${i - 1} s
       |    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)),
       |p$i AS (
       |  SELECT query_id, doc_id, mmr AS mmr_micro, $i AS mmr_rank FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY mmr DESC, doc_id) AS r FROM st$i)
       |  WHERE r = 1),
       |a$i AS MATERIALIZED (SELECT * FROM a${i - 1} UNION ALL SELECT * FROM p$i)"""
      .stripMargin
  }.mkString(",\n")

  // ------------------------------------------------------------ q142
  // Two-stage retrieval with cross-encoder reranking — the standard
  // serving/eval stack: a cheap first-stage ranker (BM25, q77's exact
  // contract) nominates top-20 candidates per query, then an expensive
  // pairwise "cross-encoder" rescores ONLY those (query, doc) pairs and
  // the final order is the reranker's. The model seam follows
  // q61/q139/q140: the scorer runs inside a typed `mapPartitions` with
  // one model init per partition (where a real build loads its
  // ONNX/torch session); the stub scoring function is deterministic and
  // SQL-replayable so the oracle pins the WHOLE two-stage chain.
  //
  // Scale shape: stage 1 is the q77 pipeline (query terms broadcast
  // into the tf frame; the raw token stream shuffles once). Stage 2
  // touches |Q|·20 pairs — candidate texts are fetched by broadcasting
  // the (tiny) candidate list onto one corpus scan (the corpus never
  // shuffles, bodies move only for candidates), and the rerank window
  // runs over 20 rows per query. The cross-encoder cost — the reason
  // two-stage architectures exist — scales with candidates, not corpus.
  // the query set is q77's — ONE definition (TextAnalysis.BmQueries),
  // so the two stages' rankings can never drift from the q77 contract
  private def RerankQueries = TextAnalysis.BmQueries
  private val Stage1K = 20
  private val RerankK = 3

  /** Cross-encoder STUB: each query term contributes
    * 1e6 div (first 1-based occurrence position in the raw doc token
    * array), 0 if absent — a deterministic early-position proximity
    * model over the pair, integer end-to-end so DuckDB replays it
    * (`list_position` is 1-based and returns 0 — NOT NULL — for an
    * absent element on DuckDB 1.0, so the oracle guards with
    * `COALESCE(...) > 0`; mirrored here by indexOf + 1). Raw split
    * (empties kept) matches `string_split`. */
  private[queries] def crossScore(qtext: String, text: String): Long = {
    val toks = text.split(" ", -1)
    var s = 0L
    for (t <- qtext.split(" ", -1)) {
      val i = toks.indexOf(t)
      if (i >= 0) s += 1000000L / (i + 1)
    }
    s
  }

  /** Stage 1: BM25 top-[[Stage1K]] per query — the SHARED q77 scorer
    * ([[TextAnalysis.bm25PerDoc]]), windowed down to the candidate
    * set. */
  private def stage1(s: SparkSession, d: String): DataFrame = {
    val w20 = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    TextAnalysis.bm25PerDoc.get(s, d)
      .withColumn("stage1_rank", row_number().over(w20))
      .filter(col("stage1_rank") <= Stage1K)
      .select(col("query_id"), col("doc_id"), col("stage1_rank"))
  }

  private val q142 = QueryDef.of(
    (s, d) => {
      import s.implicits._
      val cands = stage1(s, d)
      val qdf = RerankQueries.toDF("query_id", "qtext")
      val pairs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .join(broadcast(cands), Seq("doc_id"))
        .join(broadcast(qdf), Seq("query_id"))
        .select(col("query_id"), col("doc_id"), col("stage1_rank"),
          col("qtext"), col("text"))
        .as[RerankPair]
      val scored = pairs.mapPartitions { it =>
        // cross-encoder session init happens HERE, once per partition
        it.map(p => RerankScore(p.query_id, p.doc_id, p.stage1_rank,
          crossScore(p.qtext, p.text)))
      }.toDF()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score_micro").desc, col("stage1_rank"), col("doc_id"))
      scored.withColumn("rerank", row_number().over(w))
        .filter(col("rerank") <= RerankK)
        .select(col("query_id"), col("rerank"), col("doc_id"),
          col("score_micro"), col("stage1_rank"))
        .orderBy(col("query_id"), col("rerank"))
    },
    s"""WITH ${TextAnalysis.bm25Ctes},
       |cands AS (
       |  SELECT query_id, doc_id, stage1_rank FROM (
       |    SELECT query_id, doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, doc_id)
       |      AS stage1_rank
       |    FROM perdoc)
       |  WHERE stage1_rank <= $Stage1K),
       |dtoks AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents
       |  WHERE doc_id IN (SELECT DISTINCT doc_id FROM cands)),
       |contrib AS (
       |  SELECT c.query_id, c.doc_id, c.stage1_rank,
       |    CASE WHEN COALESCE(list_position(dt.toks, qm.term), 0) > 0
       |         THEN 1000000 // list_position(dt.toks, qm.term)
       |         ELSE 0 END AS w
       |  FROM cands c
       |  JOIN dtoks dt ON dt.doc_id = c.doc_id
       |  JOIN q qm ON qm.query_id = c.query_id),
       |rescore AS (
       |  SELECT query_id, doc_id, stage1_rank,
       |    CAST(SUM(w) AS BIGINT) AS score_micro
       |  FROM contrib GROUP BY 1, 2, 3),
       |rr AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY score_micro DESC, stage1_rank, doc_id) AS rerank
       |  FROM rescore)
       |SELECT query_id, rerank, doc_id, score_micro, stage1_rank
       |FROM rr WHERE rerank <= $RerankK
       |ORDER BY query_id, rerank""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q89_hybrid_rrf" -> q89,
    "q125_mmr_diversify" -> q125,
    "q142_crossencoder_rerank" -> q142)
}

/** Pairwise-candidate row feeding the per-query MMR greedy: candidate
  * `a` (with its relevance) against co-candidate `b`. */
final case class MmrPairRow(query_id: Long, a: Long, b: Long,
    rel_micro: Long, sim_micro: Long)

/** One greedy pick. */
final case class MmrPick(query_id: Long, mmr_rank: Int, doc_id: Long,
    mmr_micro: Long)

/** A stage-1 candidate pair entering the cross-encoder (q142). */
final case class RerankPair(query_id: Int, doc_id: Long, stage1_rank: Int,
    qtext: String, text: String)

/** A cross-encoder-scored pair (q142). */
final case class RerankScore(query_id: Int, doc_id: Long, stage1_rank: Int,
    score_micro: Long)
