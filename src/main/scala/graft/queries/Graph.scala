package graft.queries

import graft.{Artifact, Tables}
import org.apache.spark.sql.functions._

/** Graph-analytic queries over the transaction graph (customers ↔
  * suppliers via order lineitems) — the authority-scoring primitive a
  * curation pipeline uses to rank sources/domains by link structure.
  * Transitive-closure graph ops (connected components) live with the
  * dedup pipeline in [[Dedup]] (q65/q65b); this file holds the
  * iterative-numeric ones.
  */
object Graph {

  private val PrIters = 3

  /** The high-volume (l_quantity ≥ 35) part co-purchase edge set
    * (x < y, distinct) is a shared graph ARTIFACT: q131 (triangles) and
    * q134 (k-core) both analyze it, and its build — lineitem self-join
    * on orderkey + pair distinct — dominates both queries' cost. Build
    * once per (session, corpus) and persist, the candidate-index /
    * IVF-index lifecycle: a production pipeline builds the graph once
    * and runs N analytics over it.
    *
    * The value is (edges, bidirectional edges). The second is the
    * symmetrized list, persisted PARTITIONED ON src. The superstep
    * families key every per-round join on src (q153's frontier expand,
    * q154's label gather) — but a plain per-query union of the two
    * orientations has NO single output partitioning, so each round was
    * re-shuffling the full 2|E| edge list while only the frontier was
    * supposed to move. One extra persisted copy (built from the
    * already-persisted edge blocks) makes "only the frontier moves"
    * true: the edge list never re-shuffles inside a superstep again. At
    * 100 TB this is the difference between rounds × |E| and rounds ×
    * |frontier| of shuffle traffic — the GraphX edge-partitioning
    * argument. */
  private[graft] val coEdges = Artifact("coEdges", eager = true) { (s, d) =>
    // raw loads: the pair build is join-first (self-join on order),
    // so the only movement should be the orderkey shuffle
    val li = Tables.raw(s, d, "lineitem")
      .filter(col("l_quantity") >= 35)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // cache PARTITIONED ON x (not distinct's (x,y) hash): both
    // consumers' first wide op keys on x — q131's degree/orientation
    // join, q134's x semi-join — so the cached partitioning is
    // reusable and the edge list is never re-shuffled on read
    // (measured: first post-warmup triangle run 5.0s → 2.3s).
    // Partition COUNT is size-matched (graft.Tuning): a 124k-row edge
    // set on 32 near-empty partitions made every superstep scan pay
    // 32 map-task fixed costs — r12's biggest graph-family lever.
    val e = graft.Tuning.compactPersist(
      li.select(col("ok"), col("pk").as("x"))
        .join(li.select(col("ok").as("ok2"), col("pk").as("y")),
          col("ok") === col("ok2") && col("x") < col("y"))
        .select(col("x"), col("y")).distinct()
        .repartition(col("x")),
      Seq(col("x")))
    val bi = graft.Tuning.compactPersist(
      e.select(col("x").as("src"), col("y").as("dst"))
        .union(e.select(col("y").as("src"), col("x").as("dst")))
        .repartition(col("src")),
      Seq(col("src")))
    (e, bi)
  } { case (e, bi) => Seq(e, bi) }

  /** q86's customer↔supplier authority graph, [[graft.operators
    * .PageRank.prepare]]d (degree-annotated edges pre-partitioned on
    * src + node set, both persisted) once per (session, corpus): the
    * graph build — orders⋈lineitem, pair distinct, bidirection — was
    * ~half of every q86 run's steady-state cost, and like the IVF/LSH
    * indexes it is a corpus artifact, not query work. */
  private[graft] val prGraph = Artifact("prGraph", eager = true) { (s, d) =>
    // raw (no parallelism-floor scatter): the edge build is
    // join-first, so the tables' only movement should be the join's
    // own key shuffle. Nodes are INTEGER-keyed internally
    // (custkey*2 / suppkey*2+1 — disjoint by parity) and mapped back
    // to the presentation labels only on the final 16k-row frame:
    // the edge distinct and every per-iteration join then hash/
    // compare 8-byte longs instead of short strings (measured ~2× on
    // the edge build, the query's dominant phase). Ranks are
    // invariant under any key bijection, so the oracle replays the
    // string-labelled graph unchanged.
    val edges = Tables.raw(s, d, "orders")
      .join(Tables.raw(s, d, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).cast("long").as("src"),
        (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
      .distinct()
    val bidir = edges.union(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.PageRank.prepare(bidir)
  } { case (e2, nodes) => Seq(e2, nodes) }

  /** q147's dst-ranked, degree-annotated adjacency over [[coEdges]] —
    * a per-(session, corpus) graph artifact like [[prGraph]]: each of
    * the walk's supersteps (and the step-union readout) joins this
    * frame, so an uncached build re-runs the ranking window once PER
    * CONSUMER (measured ~5× per q147 run). Persisted pre-partitioned
    * on src — every step join keys on it. */
  private[graft] val walkAdj =
    Artifact.frame("walkAdj", eager = true, uses = Seq(coEdges)) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val e = coEdges.get(s, d)._1
      val both = e.select(col("x").as("src"), col("y").as("dst"))
        .union(e.select(col("y").as("src"), col("x").as("dst")))
      graft.Tuning.compactPersist(
        both
          .withColumn("r", row_number().over(
            Window.partitionBy(col("src")).orderBy(col("dst"))))
          .withColumn("deg", count(lit(1)).over(
            Window.partitionBy(col("src"))))
          .repartition(col("src")),
        Seq(col("src")))
    }

  // ------------------------------------------------------------- q86
  // Fixed-point PageRank ([[graft.operators.PageRank]]): all-integer
  // damped iteration (rank div outdeg contributions, 0.15/0.85 damping
  // as 150000 + (85*sum) div 100 micro-units), so the per-node sums are
  // order- and partition-invariant and the DuckDB oracle replays all
  // three unrolled iterations bit-for-bit. The graph: distinct
  // customer↔supplier pairs that share an order, both directions, so
  // every node has out-degree ≥ 1 (no dangling-mass term needed).
  private def sqlPrIter(name: String, prev: String): String =
    s"""$name AS (
       |  SELECT n.node,
       |    150000 + (85 * COALESCE(s.m, 0)) // 100 AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS m
       |    FROM $prev p
       |    JOIN deg d ON p.node = d.src
       |    JOIN e2 e ON e.src = p.node
       |    GROUP BY e.dst) s USING (node))""".stripMargin
  private val q86 = QueryDef.of(
    (s, d) => {
      // graph build/persist comes from the per-session cache (see
      // [[prGraph]]); retained frames (edge/deg/node caches + the
      // final checkpoint) are released by the harness-level
      // Resources.releaseAll().
      // bidir ⇒ in-degree = out-degree ≥ 1 for every node, so the
      // teleport-only left-join re-attach is skipped (one join/shuffle
      // less per superstep; the oracle's LEFT JOIN is then vacuous).
      val (e2, nodes) = prGraph.get(s, d)
      graft.operators.PageRank.runPrepared(e2, nodes, PrIters,
        everyNodeHasInEdge = true)
        .select(expr(
          "IF(node % 2 = 0, concat('c', node div 2)," +
            " concat('s', node div 2))").as("node"), col("r"))
        .orderBy(col("node"))
    },
    s"""WITH e1 AS (
       |  SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e2 AS (
       |  SELECT src, dst FROM e1
       |  UNION ALL
       |  SELECT dst AS src, src AS dst FROM e1),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e2 GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e2),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${sqlPrIter("r1", "r0")},
       |${sqlPrIter("r2", "r1")},
       |${sqlPrIter("r3", "r2")}
       |SELECT node, CAST(r AS BIGINT) AS r FROM r3 ORDER BY node"""
      .stripMargin)

  // ------------------------------------------------------------ q149
  // TextRank keyword extraction (Mihalcea & Tarau '04): rank words by
  // weighted PageRank over the adjacent-token co-occurrence graph and
  // report the top 10 — the unsupervised keyword/keyphrase primitive a
  // curation pipeline runs to label corpus slices. Edge weights are
  // bigram counts; a word's vote is split in proportion to weight,
  // `(r·w) div wsum` in exact integer µ-units
  // ([[graft.operators.PageRank.runPreparedWeighted]]), so the DuckDB
  // oracle replays all three damped iterations bit-for-bit. Scale
  // shape: the corpus-sized work is ONE per-row bigram explode into a
  // map-side-combined (x, y) count — shuffles carry word pairs, not
  // text — and the graph it leaves behind is VOCABULARY-bounded
  // (≤ |V|² nodes+edges, independent of corpus row count), so the
  // three iterations cost the same at any SF. Ties in the final
  // ordering break on the word itself.
  private def sqlWPrIter(name: String, prev: String): String =
    s"""$name AS (
       |  SELECT n.node,
       |    150000 + (85 * COALESCE(s.m, 0)) // 100 AS r
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |      CAST(SUM((p.r * e.w) // ws.wsum) AS BIGINT) AS m
       |    FROM $prev p
       |    JOIN e2 e ON e.src = p.node
       |    JOIN ws ON ws.src = e.src
       |    GROUP BY e.dst) s USING (node))""".stripMargin
  private val q149 = QueryDef.of(
    (s, d) => {
      val toks = Tables.documents(s, d).select(
        expr("filter(split(text, ' '), t -> t <> '')").as("a"))
      // adjacent pairs without sequence(): sequence(1, 0) steps DOWN
      // ([1, 0]), so an index-range build needs the empty/1-token guard
      // anyway — slicing the tail and zipping by transform index reads
      // cleaner and degrades to [] on short docs
      val pairs = toks.select(explode(expr(
        """transform(slice(a, 2, greatest(size(a) - 1, 0)),
          |  (t, i) -> struct(a[i] as u, t as v))""".stripMargin)).as("p"))
        .select(col("p.u").as("u"), col("p.v").as("v"))
        .filter(col("u") =!= col("v"))
      val e1 = pairs
        .select(least(col("u"), col("v")).as("x"),
          greatest(col("u"), col("v")).as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("w"))
      val e2 = e1.select(col("x").as("src"), col("y").as("dst"), col("w"))
        .union(e1.select(col("y").as("src"), col("x").as("dst"), col("w")))
      val (pe, nodes) = graft.operators.PageRank.prepareWeighted(e2)
      // symmetric edges ⇒ every node receives a contribution row
      graft.operators.PageRank.runPreparedWeighted(pe, nodes, PrIters,
        everyNodeHasInEdge = true)
        .select(col("node").as("word"), col("r"))
        .orderBy(col("r").desc, col("word")).limit(10)
    },
    s"""WITH t AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS a
       |  FROM documents),
       |p AS (
       |  SELECT z[1] AS u, z[2] AS v
       |  FROM (SELECT unnest(list_zip(a[:-2], a[2:])) AS z FROM t)),
       |e1 AS (
       |  SELECT least(u, v) AS x, greatest(u, v) AS y,
       |    CAST(COUNT(*) AS BIGINT) AS w
       |  FROM p WHERE u <> v GROUP BY 1, 2),
       |e2 AS (
       |  SELECT x AS src, y AS dst, w FROM e1
       |  UNION ALL
       |  SELECT y AS src, x AS dst, w FROM e1),
       |ws AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wsum
       |  FROM e2 GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e2),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |${sqlWPrIter("r1", "r0")},
       |${sqlWPrIter("r2", "r1")},
       |${sqlWPrIter("r3", "r2")}
       |SELECT node AS word, CAST(r AS BIGINT) AS r FROM r3
       |ORDER BY r DESC, word LIMIT 10""".stripMargin)

  // ------------------------------------------------------------ q152
  // Association-rule mining (Agrawal & Srikant '94, the 2-itemset
  // level): directed rules x→y over high-volume order baskets with
  // support, confidence = s(x,y)/s(x), and lift =
  // s(x,y)·N / (s(x)·s(y)) — the market-basket readout over the same
  // co-purchase domain the graph analytics (q131/q134/q147) mine
  // structurally. Counts, not just distinct pairs: support needs how
  // MANY baskets share the pair, so this builds its own counted
  // self-join rather than reusing the distinct coEdges cache.
  //
  // Exact integer µ-units; lift uses NESTED truncating divisions
  // (((1e6·s_pair) div s_x)·N) div s_y — every intermediate is
  // ≤ 1e6·N, long-safe to N ≈ 9·10¹² baskets, where the naive
  // 1e6·s_pair·N form overflows at N ≈ 3·10⁶ (the q151 discipline).
  // Lift is mathematically SYMMETRIC (s_pair·N / (s_x·s_y)), but the
  // nested truncation is not: dividing by s_x first vs s_y first can
  // differ by a few µ-units, so computing it per DIRECTED rule would
  // let the top-50 cut admit one direction of a pair while dropping
  // its mirror — a truncation artifact, not a metric difference. It is
  // therefore computed ONCE on the canonical x<y row and attached to
  // both directed rules (confidence stays directional by definition).
  //
  // Scale shape: basket dedup + the orderkey-keyed counted self-join
  // (pair volume bounded by per-basket width², same argument as
  // coEdges), one map-side-combined (x, y) count, support pruning
  // BEFORE the stats joins (minsup = 2 kills the long tail early),
  // item supports broadcast, N as a broadcast 1-row frame. Top-50 by
  // lift with full tie-break (lift, ante, cons) keeps the output
  // deterministic.
  private val q152 = QueryDef.of(
    (s, d) => {
      // r16 (§1.2): li feeds four consumers (n_baskets, item supports,
      // both self-join sides); un-pinned, the scan+filter+distinct
      // recomputed per consumer. One pinned generation serves all four
      // — identical rows, the dedup shuffle runs once.
      val li = Tables.raw(s, d, "lineitem")
        .filter(col("l_quantity") >= 35)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .localCheckpoint(true)
      graft.Resources.retainSlot(
        s"q152:${graft.Resources.sessionKey(s)}:$d", li)
      val nB = li.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val item = li.groupBy(col("pk")).agg(count(lit(1)).as("s_item"))
      val pair = li.select(col("ok"), col("pk").as("x"))
        .join(li.select(col("ok").as("ok2"), col("pk").as("y")),
          col("ok") === col("ok2") && col("x") < col("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("s_pair"))
        .filter(col("s_pair") >= 2)
      val pairLift = pair
        .join(broadcast(item.select(col("pk").as("x"),
          col("s_item").as("s_x"))), "x")
        .join(broadcast(item.select(col("pk").as("y"),
          col("s_item").as("s_y"))), "y")
        .crossJoin(broadcast(nB))
        .withColumn("lift_micro", expr(
          "(((1000000L * s_pair) div s_x) * n_baskets) div s_y"))
      val rules = pairLift
        .select(col("x").as("ante"), col("y").as("cons"), col("s_pair"),
          col("s_x").as("s_ante"), col("s_y").as("s_cons"),
          col("lift_micro"))
        .union(pairLift
          .select(col("y").as("ante"), col("x").as("cons"),
            col("s_pair"), col("s_y").as("s_ante"),
            col("s_x").as("s_cons"), col("lift_micro")))
      rules
        .select(col("ante"), col("cons"), col("s_pair"), col("s_ante"),
          col("s_cons"),
          expr("(1000000L * s_pair) div s_ante").as("confidence_micro"),
          col("lift_micro"))
        .orderBy(col("lift_micro").desc, col("ante"), col("cons"))
        .limit(50)
    },
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity >= 35),
      |nb AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets
      |       FROM li),
      |item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS s_item
      |         FROM li GROUP BY pk),
      |pair AS (
      |  SELECT a.pk AS x, b.pk AS y, CAST(COUNT(*) AS BIGINT) AS s_pair
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2
      |  HAVING COUNT(*) >= 2),
      |pairlift AS (
      |  SELECT p.x, p.y, p.s_pair,
      |    ix.s_item AS s_x, iy.s_item AS s_y,
      |    (((1000000 * p.s_pair) // ix.s_item) * n_baskets)
      |      // iy.s_item AS lift_micro
      |  FROM pair p JOIN item ix ON ix.pk = p.x
      |              JOIN item iy ON iy.pk = p.y
      |              CROSS JOIN nb),
      |rules AS (
      |  SELECT x AS ante, y AS cons, s_pair,
      |    s_x AS s_ante, s_y AS s_cons, lift_micro FROM pairlift
      |  UNION ALL
      |  SELECT y AS ante, x AS cons, s_pair,
      |    s_y AS s_ante, s_x AS s_cons, lift_micro FROM pairlift)
      |SELECT ante, cons, s_pair, s_ante, s_cons,
      |  (1000000 * s_pair) // s_ante AS confidence_micro, lift_micro
      |FROM rules
      |ORDER BY lift_micro DESC, ante, cons LIMIT 50""".stripMargin)

  // ------------------------------------------------------------ q153
  // Bounded BFS hop distance (single-source shortest path, unit
  // weights): distance from the graph's minimum part key over the
  // shared co-purchase edges, 4 supersteps — the "how far does
  // influence propagate" readout (reachability radius, neighborhood
  // sizing for sampling fan-outs) and the one iterative-graph shape
  // the suite's other ops (CC label min, PageRank sums, k-core
  // peeling, random walks) don't exercise: FRONTIER expansion with an
  // anti-join against the settled set. Output is the per-distance
  // histogram plus each ring's min/max node (pins ring membership, not
  // just size) and the still-unreached count at the horizon.
  //
  // Scale shape per superstep: one frontier⋈edges equi-join (the
  // persisted src-partitioned bidirectional [[coEdges]] copy — only the
  // frontier moves; a per-query union of the two coEdges orientations has no
  // output partitioning and re-shuffled the full 2|E| list per ring)
  // and
  // one anti-join against settled (node-keyed). Each ring is EAGERLY
  // localCheckpoint-ed (Resources-retained) before the next step reads
  // it — the ConnectedComponents lineage discipline. This is
  // load-bearing, not hygiene: frontier t's plan references frontier
  // t−1 once via the expand join and AGAIN via the settled anti-join,
  // so un-truncated lineage re-executes the whole prior chain at every
  // reference and the recomputation compounds exponentially in the
  // step count (measured: 124 s at sf0.1 fused vs ~2 s checkpointed —
  // the one case where "fuse into one DAG" loses). The oracle replays
  // every ring exactly — BFS on a fixed graph is deterministic, no
  // tie-breaks needed (a node's distance is its first-reached
  // superstep).
  private val BfsSteps = 4
  private val q153 = QueryDef.of(
    (s, d) => {
      // shared src-partitioned bidirectional artifact: the per-ring
      // expand join keys on src, so only the frontier ever shuffles
      val both = coEdges.get(s, d)._2
      val nodes = both.select(col("src").as("node")).distinct()
      // the BFS seed (global min node id) is ONE value — collect it
      // once and seed from a literal one-row frame: left as a lazy
      // subtree it was re-executed (a full node-set distinct + agg
      // over the edge artifact) inside every ring's settled anti-join
      // AND the final readout
      val seedRow = nodes.agg(min(col("node"))).head()
      val src0 =
        if (seedRow.isNullAt(0))
          // empty edge set: mirror the oracle's v0, which emits ONE
          // (NULL node, dist 0) seed row from its MIN() subquery — the
          // pre-collect lazy agg form did the same, and a zero-row seed
          // here would drop the dist=0 ring the oracle still reports
          // (r14 ADVICE #1; unreachable on current fixtures)
          s.range(1).select(lit(null).cast("long").as("node"),
            lit(0).as("dist"))
        else s.range(1).select(lit(seedRow.get(0)).as("node"),
          lit(0).as("dist"))
      var settled = src0
      var frontier = src0
      // NOTE (round-10): a 2-hops-per-checkpoint stride was built and
      // measured here (3.05 s → 4.09 s at sf0.1, reverted): hop 2
      // references ring t+1 before any job has filled its cache, so the
      // fused block either recomputes the hop-1 chain per reference or
      // needs an extra materialization job — exactly what it tried to
      // save. Per-ring eager materialization is the floor for exact
      // per-ring BFS output.
      // loop shuffles sized to the edge artifact's own (size-matched)
      // width so the frontier exchange co-partitions with the pinned
      // edges — every ring is a subset of the dst side of one expand
      graft.Tuning.withSuperstepConf(s, both.rdd.getNumPartitions) {
        for (t <- 1 to BfsSteps) {
          frontier = graft.Resources.retain(frontier
            .join(both, col("node") === col("src"))
            .select(col("dst").as("node")).distinct()
            .join(settled.select(col("node").as("seen")),
              col("node") === col("seen"), "left_anti")
            .withColumn("dist", lit(t))
            .localCheckpoint())
          settled = settled.union(frontier)
        }
      }
      val rings = settled.groupBy(col("dist"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("node")).as("min_node"),
          max(col("node")).as("max_node"))
      val unreached = nodes
        .join(settled.select(col("node").as("seen")),
          col("node") === col("seen"), "left_anti")
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_nodes"))
        .select(lit(-1).as("dist"), col("n_nodes"),
          lit(-1L).as("min_node"), lit(-1L).as("max_node"))
      rings.union(unreached).orderBy(col("dist"))
    },
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 35),
       |und AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e2 AS (
       |  SELECT x AS src, y AS dst FROM und
       |  UNION ALL SELECT y, x FROM und),
       |nodes AS (SELECT DISTINCT src AS node FROM e2),
       |v0 AS (SELECT MIN(node) AS node, 0 AS dist FROM nodes),
       |${(1 to BfsSteps).map { t =>
          val settled = (0 until t).map(i => s"SELECT node FROM v$i")
            .mkString(" UNION ALL ")
          // MATERIALIZED is load-bearing (the q141 lesson): each ring
          // is referenced by every LATER ring's settled union AND the
          // final readout — plain CTEs re-inline (and re-execute) the
          // whole prior chain per reference (measured 33.6 s vs ~2 s
          // at sf0.1 — the oracle-side twin of the engine's own
          // fused-lineage trap)
          s"""v$t AS MATERIALIZED (
             |  SELECT DISTINCT e.dst AS node, $t AS dist
             |  FROM v${t - 1} f JOIN e2 e ON e.src = f.node
             |  WHERE e.dst NOT IN ($settled))"""
            .stripMargin
        }.mkString(",\n")},
       |settled AS (${(0 to BfsSteps)
          .map(i => s"SELECT * FROM v$i").mkString(" UNION ALL ")}),
       |rings AS (
       |  SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    MIN(node) AS min_node, MAX(node) AS max_node
       |  FROM settled GROUP BY dist),
       |unreached AS (
       |  SELECT -1 AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |    CAST(-1 AS BIGINT) AS min_node, CAST(-1 AS BIGINT) AS max_node
       |  FROM nodes WHERE node NOT IN (SELECT node FROM settled))
       |SELECT * FROM rings UNION ALL SELECT * FROM unreached
       |ORDER BY dist""".stripMargin)

  // ------------------------------------------------------------ q154
  // Label-propagation communities (Raghavan et al. '07, synchronous):
  // every node adopts the MAJORITY label among its neighbors each
  // round, ties to the smallest label — community detection proper,
  // distinct from connected components (q65's min-label converges to
  // one label per component; LPA's majority vote splits dense
  // components into communities). 3 synchronous rounds from
  // label(v)=v, then the community-size histogram.
  //
  // The per-node ARGMAX is the scale-interesting bit: not a window
  // (which would shuffle+sort every (node, label) pair) but
  // max(struct(count, −label)) — an ordinary MAP-SIDE-COMBINABLE
  // aggregate whose struct ordering encodes the (count desc, label
  // asc) tie-break exactly. The oracle replays it as the equivalent
  // ROW_NUMBER pick. Per round: one edge⋈labels key join (only the
  // label frame moves — edges are the persisted coEdges) and two
  // combinable aggregates; 3 rounds fuse into one DAG.
  private val LpaRounds = 3
  private val q154 = QueryDef.of(
    (s, d) => {
      val both = coEdges.get(s, d)._2
      val nodes = both.select(col("src").as("node")).distinct()
      var labels = nodes.select(col("node"), col("node").as("lbl"))
      // gather on the PARTITIONED side: the edge list is symmetric, so
      // Σ_{(s,d)∈E} (vote at s, label of d) ≡ Σ (vote at d, label of
      // s). Joining labels on SRC (the artifact's cached partitioning)
      // and grouping by DST computes the identical neighbor-label
      // multiset while the pinned edge list never re-shuffles — only
      // the node-sized label frame moves each round.
      // ONE exchange per round: repartition the gathered (dst, lbl)
      // votes on dst once, then BOTH aggregates are partition-local
      // (HashPartitioning(dst) satisfies ClusteredDistribution(dst,
      // lbl) and (dst) alike). The two-groupBy form paid two exchanges
      // per round and its map-side combine bought ~nothing here: round
      // 1's labels are all-distinct node ids, so there is nothing to
      // combine before the shuffle. Bonus: each round's output is
      // already node-partitioned for the NEXT round's label-side join.
      // FUSED-EAGER rounds (r14 VERDICT #7): the 3 rounds fuse into one
      // linear DAG, but a lazily-returned plan executes later under
      // SESSION conf — AQE then materializes every exchange as its own
      // job (~10 jobs of pure scheduling floor on node-sized, already
      // explicitly-sized shuffles). Materializing the node-count-sized
      // histogram INSIDE the superstep scope runs the whole DAG as one
      // non-AQE job; the returned frame is the tiny checkpointed result.
      // allowBroadcast: unlike the frontier loops (q153), LPA's moving
      // frame is the |V|-sized label set whose join side is the WARMED
      // persisted bidirectional coEdges copy — real stats, and Spark's
      // 10 MB threshold makes the scale call (broadcast the labels at
      // test scale, co-partitioned shuffle at 100 TB where |V| outgrows
      // the threshold); forcing the shuffle here bought SMJ sorts of the
      // full edge list every round instead.
      graft.Tuning.withSuperstepConf(s, both.rdd.getNumPartitions,
        allowBroadcast = true) {
        for (_ <- 1 to LpaRounds) {
          labels = both.join(labels, col("src") === col("node"))
            .select(col("dst"), col("lbl"))
            .repartition(col("dst"))
            .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
            .groupBy(col("dst"))
            .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
            .select(col("dst").as("node"), (-col("m.nl")).as("lbl"))
        }
        graft.Resources.retain(
          labels.groupBy(col("lbl").as("community"))
            .agg(count(lit(1)).as("n_members"))
            .localCheckpoint())
          .orderBy(col("community"))
      }
    },
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 35),
       |und AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |e2 AS (
       |  SELECT x AS src, y AS dst FROM und
       |  UNION ALL SELECT y, x FROM und),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e2),
       |${(1 to LpaRounds).map { t =>
          s"""l$t AS (
             |  SELECT src AS node, lbl FROM (
             |    SELECT e.src, l.lbl,
             |      ROW_NUMBER() OVER (PARTITION BY e.src
             |        ORDER BY COUNT(*) DESC, l.lbl) AS rn
             |    FROM e2 e JOIN l${t - 1} l ON l.node = e.dst
             |    GROUP BY e.src, l.lbl)
             |  WHERE rn = 1)""".stripMargin
        }.mkString(",\n")}
       |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
       |FROM l$LpaRounds GROUP BY lbl ORDER BY community""".stripMargin)

  // ------------------------------------------------------------ q155
  // HITS hubs & authorities (Kleinberg '99) over the DIRECTED
  // customer→supplier purchase graph: customers are pure hubs (they
  // only point), suppliers pure authorities (they are only pointed
  // at), so the bipartite direction makes the two scores genuinely
  // different readouts — "which suppliers does the demand structure
  // endorse" vs "which customers endorse broadly". The iteration is
  // mutually recursive (auth ← Σ hub of in-pointers, hub ← Σ auth of
  // out-targets) with PER-ROUND max-normalization — the piece PageRank
  // lacks — done in exact integers: x·1e6 div max(x), so both engines
  // replay all rounds bit-for-bit (sum order never matters, the max is
  // a 1-row broadcast).
  //
  // Scale shape per half-round: one edges⋈scores key join (scores
  // move, the edge list is the persisted artifact shape), one
  // map-side-combined sum, one 1-row max broadcast back. Two rounds
  // unrolled (bipartite HITS converges in O(1) rounds up to scale).
  // TWO persisted copies, one per join key: the auth half-round joins
  // scores on src, the hub half-round on dst — an equi-join requires
  // ClusteredDistribution on its key of BOTH sides, so with only a
  // src-partitioned copy the hub half re-shuffled the full EDGE list
  // every round (the score frame is the one that's supposed to move).
  // The dst twin is built from the already-persisted src copy (one
  // shuffle at warmup) — the GraphX both-orientations trade: O(|E|)
  // extra memory for zero edge movement inside the iteration.
  private[graft] val hitsEdges = Artifact("hitsEdges", eager = true) { (s, d) =>
    val bySrc = graft.Tuning.compactPersist(
      Tables.raw(s, d, "orders")
        .join(Tables.raw(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("src"),
          col("l_suppkey").cast("long").as("dst"))
        .distinct()
        .repartition(col("src")),
      Seq(col("src")))
    val byDst = graft.Tuning.compactPersist(
      bySrc.repartition(col("dst")), Seq(col("dst")))
    (bySrc, byDst)
  } { case (bySrc, byDst) => Seq(bySrc, byDst) }

  private val q155 = QueryDef.of(
    (s, d) => {
      // shared per-(session, corpus) directed edge artifact — one copy
      // per join key so neither half-round ever moves the edge list
      val (e, eDst) = hitsEdges.get(s, d)
      var hub = e.select(col("src")).distinct()
        .select(col("src"), lit(1000000L).as("h"))
      var auth: org.apache.spark.sql.DataFrame = null
      // each half-round's raw-score frame is referenced TWICE (its own
      // max + the next join) and the final output references auth both
      // directly and through hub — un-truncated lineage re-executes
      // every earlier round per reference (the q153 lesson; measured
      // 11.8 s vs ~2 s). The frames are node-sized, so an eager
      // localCheckpoint per half-round is cheap. Only the RAW frame is
      // checkpointed: the max is collected once as a literal (a 1-row
      // driver read of a fixed-size stat — no broadcast build, no
      // crossJoin plan) and the normalization stays a lazy projection
      // over the pinned parent, so re-references re-read the
      // checkpoint and redo one integer div, never the join (r13: the
      // second per-half checkpoint + broadcast machinery was half the
      // query's job count for zero saved work).
      // superstep conf scope (see Tuning.withSuperstepConf): the
      // half-round shuffles move node-sized score frames against the
      // already-right-sized persisted edges, so AQE's per-exchange
      // re-plan jobs are pure scheduling overhead here; partition
      // count follows the edge artifact's own (size-matched) width
      graft.Tuning.withSuperstepConf(s, e.rdd.getNumPartitions) {
        // the per-half normalization max rides the half-round's own
        // checkpoint job (Tuning.checkpointWithStats / observe) — a
        // half-round is ONE driver job, not checkpoint + max probe.
        // Max of an EMPTY frame observes as null — fall back to 1 (the
        // frame is empty anyway, the literal never meets a row). The
        // metric casts to long EXPLICITLY so a future type widening of
        // a/h (e.g. decimal from an overflow fix) fails at analysis
        // time instead of a runtime ClassCastException here.
        def longOr1(v: Any): Long = v match {
          case null => 1L
          case x    => x.asInstanceOf[Long]
        }
        for (_ <- 1 to 2) {
          val (authRaw, aSt) = graft.Tuning.checkpointWithStats(
            e.join(hub, "src")
              .groupBy(col("dst")).agg(sum(col("h")).as("a")),
            max(col("a")).cast("long").as("mx"))
          graft.Resources.retain(authRaw)
          val amax = longOr1(aSt("mx"))
          auth = authRaw
            .select(col("dst"), expr(s"(a * 1000000L) div ${amax}L").as("a"))
          val (hubRaw, hSt) = graft.Tuning.checkpointWithStats(
            eDst.join(auth, "dst")
              .groupBy(col("src")).agg(sum(col("a")).as("h")),
            max(col("h")).cast("long").as("mx"))
          graft.Resources.retain(hubRaw)
          val hmax = longOr1(hSt("mx"))
          hub = hubRaw
            .select(col("src"), expr(s"(h * 1000000L) div ${hmax}L").as("h"))
        }
      }
      auth.select(lit("s").as("role"), col("dst").as("node"),
          col("a").as("score_micro"))
        .union(hub.select(lit("c").as("role"), col("src").as("node"),
          col("h").as("score_micro")))
        .orderBy(col("role"), col("node"))
    },
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
       |    CAST(l_suppkey AS BIGINT) AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS h FROM e),
       |${(1 to 2).map { t =>
          s"""ar$t AS (
             |  SELECT e.dst, CAST(SUM(h.h) AS BIGINT) AS a
             |  FROM e JOIN h${t - 1} h USING (src) GROUP BY e.dst),
             |a$t AS (
             |  SELECT dst, (a * 1000000) // (SELECT MAX(a) FROM ar$t) AS a
             |  FROM ar$t),
             |hr$t AS (
             |  SELECT e.src, CAST(SUM(a.a) AS BIGINT) AS h
             |  FROM e JOIN a$t a USING (dst) GROUP BY e.src),
             |h$t AS (
             |  SELECT src, (h * 1000000) // (SELECT MAX(h) FROM hr$t) AS h
             |  FROM hr$t)""".stripMargin
        }.mkString(",\n")}
       |SELECT 's' AS role, dst AS node, a AS score_micro FROM a2
       |UNION ALL
       |SELECT 'c' AS role, src AS node, h AS score_micro FROM h2
       |ORDER BY role, node""".stripMargin)

  // ------------------------------------------------------------ q131
  // Exact triangle counting ([[graft.operators.TriangleCount]]) over the
  // part co-purchase graph: parts are linked when a high-volume order
  // (l_quantity ≥ 35 — the threshold keeps co-occurrence meaningful
  // instead of quadratic-in-order-width noise) contains both. Reported
  // per brand: how many parts sit in ≥1 triangle and their total
  // triangle membership — the "densely co-bought cluster" signal a
  // curation pipeline uses the same way a link graph uses clustering
  // coefficients. Degree-ordered orientation bounds the wedge volume by
  // O(m^1.5) regardless of hub skew (see the operator's scaladoc); the
  // whole pipeline is equi-joins + integer counts, so the oracle
  // replays it exactly.
  // the triangle chain is shared verbatim by q131 and q171; every CTE
  // referenced more than once downstream is MATERIALIZED (ori feeds
  // both wedge sides and the closure probe — DuckDB's default inline
  // expansion would re-run the orientation joins per reference, the
  // exact cost the engine-side persist in TriangleCount.run avoids)
  private val triCtes =
    """li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem WHERE l_quantity >= 35),
      |und AS MATERIALIZED (
      |  SELECT DISTINCT a.pk AS x, b.pk AS y
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS MATERIALIZED (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT x AS n FROM und UNION ALL SELECT y AS n FROM und)
      |  GROUP BY n),
      |ori AS MATERIALIZED (
      |  SELECT
      |    CASE WHEN (dx.d, u.x) < (dy.d, u.y) THEN u.x ELSE u.y END AS src,
      |    CASE WHEN (dx.d, u.x) < (dy.d, u.y) THEN u.y ELSE u.x END AS dst,
      |    CASE WHEN (dx.d, u.x) < (dy.d, u.y) THEN dy.d ELSE dx.d END AS dst_deg
      |  FROM und u JOIN deg dx ON dx.n = u.x JOIN deg dy ON dy.n = u.y),
      |wedge AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src
      |   AND (e1.dst_deg, e1.dst) < (e2.dst_deg, e2.dst)),
      |tri AS (
      |  SELECT a, b, c FROM wedge w
      |  JOIN ori o ON o.src = w.b AND o.dst = w.c),
      |pernode AS (
      |  SELECT node, COUNT(*) AS tri FROM (
      |    SELECT a AS node FROM tri UNION ALL
      |    SELECT b AS node FROM tri UNION ALL
      |    SELECT c AS node FROM tri)
      |  GROUP BY node)""".stripMargin

  private val q131 = QueryDef.of(
    (s, d) => {
      val und = coEdges.get(s, d)._1
      graft.operators.TriangleCount.run(und)
        .join(Tables.raw(s, d, "part"), col("node") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("parts"), sum(col("tri")).as("tri_sum"))
        .orderBy(col("brand"))
    },
    s"""WITH $triCtes
      |SELECT p_brand AS brand, COUNT(*) AS parts,
      |  CAST(SUM(t.tri) AS BIGINT) AS tri_sum
      |FROM pernode t JOIN part ON t.node = p_partkey
      |GROUP BY p_brand ORDER BY brand""".stripMargin)

  // ------------------------------------------------------------ q171
  // Per-node LOCAL CLUSTERING COEFFICIENT over the same co-purchase
  // graph: cc = 2·tri / (deg·(deg−1)) — the per-node density readout
  // q131's per-brand rollup hides (a web-graph curation pipeline uses
  // it to separate organic neighborhoods from link farms; here it
  // grades each part's co-purchase cohesion). Exact ppm integer
  // arithmetic: cc_ppm = (tri · 2·10⁶) div (deg·(deg−1)), well-defined
  // for deg ≥ 2 (the output domain). Nodes in no triangle report 0.
  //
  // Scale shape: the triangle side IS TriangleCount.run (O(m^1.5)
  // oriented wedges, no cartesian); the degree side is one map-side
  // integer aggregate over the edge union; the two meet in a node-keyed
  // join, output ∝ |V|. Headroom: tri·2e6 overflows BIGINT only past
  // ~4.6e12 triangle memberships on one node (deg ~3e6 in a clique —
  // beyond any real co-purchase hub; a production run would gate the
  // top hubs the q85 salting way first).
  private val q171 = QueryDef.of(
    (s, d) => {
      val und = coEdges.get(s, d)._1
      val deg = und.select(col("x").as("node"))
        .union(und.select(col("y").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      deg.filter(col("deg") >= 2)
        .join(graft.operators.TriangleCount.run(und), Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tri"), lit(0L)).as("tri"),
          expr("(coalesce(tri, 0L) * 2000000L) div (deg * (deg - 1L))")
            .as("cc_ppm"))
        .orderBy(col("node"))
    },
    s"""WITH $triCtes
      |SELECT d.n AS node, CAST(d.d AS BIGINT) AS deg,
      |  CAST(COALESCE(p.tri, 0) AS BIGINT) AS tri,
      |  CAST((COALESCE(p.tri, 0) * 2000000) // (d.d * (d.d - 1))
      |    AS BIGINT) AS cc_ppm
      |FROM deg d LEFT JOIN pernode p ON p.node = d.n
      |WHERE d.d >= 2 ORDER BY node""".stripMargin)

  // ------------------------------------------------------------ q134
  // Bounded k-core peeling (k = 3, fixed 5 rounds — the q86 pattern:
  // a FIXED superstep count both engines unroll identically) over the
  // same part co-purchase graph as q131. Each round drops every node
  // with degree < k and every edge touching a dropped node; the 3-core
  // is the fixpoint, and 5 rounds reach it on the fixtures (the row
  // count stabilizes; at other SFs the result is still well-defined as
  // "degrees after 5 peel rounds"). k-core membership is the standard
  // "dense cluster" curation signal one step up from q131's triangles.
  //
  // Scale shape per round: one integer degree aggregation (map-side
  // partials over an x/y union) and two semi-joins keyed on node ids —
  // no pair enumeration, no windows; the edge frame only ever shrinks.
  private val CoreK = 3
  private val CoreRounds = 5

  // every CTE here is AS MATERIALIZED: each round references the
  // previous round's edge set three times, so DuckDB's default inline
  // expansion is 3^rounds copies of the whole pyramid — the plain form
  // never finishes at sf0.01; materialized it is linear (0.3 s)
  private def sqlPeel(i: Int): String = {
    val prev = s"e${i - 1}"
    s"""d$i AS MATERIALIZED (
       |  SELECT n, COUNT(*) AS deg FROM (
       |    SELECT x AS n FROM $prev UNION ALL SELECT y AS n FROM $prev)
       |  GROUP BY n),
       |a$i AS MATERIALIZED (SELECT n FROM d$i WHERE deg >= $CoreK),
       |e$i AS MATERIALIZED (
       |  SELECT x, y FROM $prev
       |  WHERE x IN (SELECT n FROM a$i) AND y IN (SELECT n FROM a$i))"""
      .stripMargin
  }
  private val q134 = QueryDef.of(
    (s, d) => {
      var e = coEdges.get(s, d)._1
      // The up-front count (a cheap cached-scan job) does double duty:
      // it sizes the loop's shuffles to the measured edge count
      // (graft.Tuning — the peel frames only SHRINK from here), and it
      // seeds the fixpoint early-exit: a peel round that removes no
      // edge leaves every later round a no-op (degrees can only drop
      // when edges do), so "degrees after 5 rounds" is reached the
      // moment a round leaves the count unchanged — at sf0.1 that is
      // round 2 of the 5 budgeted (measured: round-2..5 counts are
      // identical), cutting 3 rounds of superstep jobs.
      var prevCount = e.count()
      var round = 0
      // allowBroadcast (the labelsStar rationale): the peel's two
      // semi-joins alternate keys (x then y), so whatever partitioning
      // the round's edge frame carries, ONE of them always re-shuffles
      // the edge side — unless the node-sized `alive` set broadcasts.
      // Its size estimate is grounded (an aggregate over the measured
      // checkpoint), so Spark's threshold broadcasts at test scale and
      // falls back to shuffle joins at graph scale.
      graft.Tuning.withSuperstepConf(s,
        graft.Tuning.partsFor(prevCount), allowBroadcast = true) {
        var converged = false
        while (round < CoreRounds && !converged) {
          // eager localCheckpoint per round (the ConnectedComponents
          // pattern): `alive` feeds two semi-joins and `e` three
          // subtrees — without truncation the lineage nests
          // geometrically across rounds. Each round's edge set is
          // small and only shrinks.
          val prev = e
          val deg = e.select(col("x").as("n"))
            .union(e.select(col("y").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("deg"))
          val alive = deg.filter(col("deg") >= CoreK).select(col("n"))
          // the surviving-edge count (the fixpoint early-exit) rides
          // the round's own checkpoint job via checkpointWithStats —
          // one driver job per peel round, not checkpoint + count
          val (ne, st) = graft.Tuning.checkpointWithStats(
            e.join(alive.withColumnRenamed("n", "x"), Seq("x"),
                "left_semi")
              .join(alive.withColumnRenamed("n", "y"), Seq("y"),
                "left_semi")
              .select(col("x"), col("y")),
            count(lit(1)).cast("long").as("n"))
          e = ne
          graft.Resources.releaseCheckpoint(prev) // no-op on round 0's plan
          round += 1
          val c = st("n").asInstanceOf[Long]
          converged = c == prevCount
          prevCount = c
        }
      }
      graft.Resources.retain(e)
      e.select(col("x").as("n")).union(e.select(col("y").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
        .select(col("n").as("node"), col("deg"))
        .orderBy(col("node"))
    },
    s"""WITH li AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 35),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |${(1 to CoreRounds).map(sqlPeel).mkString(",\n")},
       |fin AS (
       |  SELECT n, COUNT(*) AS deg FROM (
       |    SELECT x AS n FROM e$CoreRounds
       |    UNION ALL SELECT y AS n FROM e$CoreRounds)
       |  GROUP BY n)
       |SELECT n AS node, CAST(deg AS BIGINT) AS deg FROM fin
       |ORDER BY node""".stripMargin)

  // ------------------------------------------------------------ q147
  // Deterministic random-walk sampling (DeepWalk/node2vec's data-
  // generation pass): emit fixed-length walks over the part
  // co-purchase graph — the training corpus a graph-embedding model
  // consumes (each walk is a "sentence" of node ids). The walk is
  // DERANDOMIZED the q55/q79 way: at step t, walk w moves to its
  // current node's neighbor at index md5(w, t) mod degree in the
  // dst-sorted adjacency — reproducible across engines, runs, and
  // partitionings, so the DuckDB oracle replays every hop exactly
  // (rand() would be none of those).
  //
  // Scale shape: the ranked adjacency is ONE window over the (shared,
  // persisted) co-purchase edge set; each of the 4 steps is two
  // node-keyed equi-joins of the WALK FRONTIER against degree/adjacency
  // (frontier-sized shuffles — the canonical BSP walk step; the graph
  // itself never re-shuffles, it is joined by key). Dead-end handling:
  // the co-purchase relation is symmetric, so every reached node has
  // degree ≥ 1 and walks never strand (inner joins are total).
  private val WalkSteps = 4
  private val q147 = QueryDef.of(
    (s, d) => {
      // shared per-(session, corpus) ranked adjacency (see [[walkAdj]])
      val adj = walkAdj.get(s, d)
      val starts = adj.select(col("src")).distinct()
        .filter(col("src") % 25 === 0)
        .select(col("src").as("walk_id"))
      var frontier = starts.select(col("walk_id"),
        col("walk_id").as("cur"))
      val steps = Seq.newBuilder[org.apache.spark.sql.DataFrame]
      steps += frontier.select(col("walk_id"), lit(0).as("step"),
        col("cur").as("node"))
      for (t <- 1 to WalkSteps) {
        // every frontier is referenced TWICE (the step-union output and
        // the next hop) — truncate lineage per hop or the recomputation
        // doubles per step (the q153/q155 lesson; frontier is
        // walk-count-sized, so the eager checkpoint is cheap)
        frontier = graft.Resources.retain(frontier
          .join(adj, col("cur") === col("src") &&
            col("r") === expr(
              s"""cast(conv(substring(md5(concat(cast(walk_id as string),
                 |  ':', '$t')), 1, 8), 16, 10) as bigint) % deg + 1"""
                .stripMargin))
          .select(col("walk_id"), col("dst").as("cur"))
          .localCheckpoint())
        steps += frontier.select(col("walk_id"), lit(t).as("step"),
          col("cur").as("node"))
      }
      steps.result().reduce(_.union(_))
        .orderBy(col("walk_id"), col("step"))
    },
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity >= 35),
       |und AS (
       |  SELECT DISTINCT a.pk AS x, b.pk AS y
       |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS MATERIALIZED (
       |  SELECT src, dst,
       |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS r,
       |    COUNT(*) OVER (PARTITION BY src) AS deg
       |  FROM (SELECT x AS src, y AS dst FROM und
       |        UNION ALL SELECT y AS src, x AS dst FROM und)),
       |w0 AS (
       |  SELECT DISTINCT src AS walk_id, src AS cur FROM adj
       |  WHERE src % 25 = 0),
       |${(1 to WalkSteps).map { t =>
          s"""w$t AS MATERIALIZED (
             |  SELECT f.walk_id, a.dst AS cur
             |  FROM w${t - 1} f JOIN adj a ON a.src = f.cur
             |   AND a.r = CAST('0x' || substring(md5(
             |        CAST(f.walk_id AS VARCHAR) || ':' || '$t'), 1, 8)
             |        AS BIGINT) % a.deg + 1)""".stripMargin
        }.mkString(",\n")}
       |SELECT walk_id, step, node FROM (
       |  SELECT walk_id, 0 AS step, cur AS node FROM w0
       |${(1 to WalkSteps).map(t =>
          s"  UNION ALL SELECT walk_id, $t, cur FROM w$t").mkString("\n")})
       |ORDER BY walk_id, step""".stripMargin)

  val defs: Map[String, QueryDef] = Map(
    "q86_pagerank" -> q86,
    "q149_textrank_keywords" -> q149,
    "q152_assoc_rules" -> q152,
    "q153_bfs_distance" -> q153,
    "q154_label_propagation" -> q154,
    "q155_hits" -> q155,
    "q131_triangle_count" -> q131,
    "q171_clustering_coefficient" -> q171,
    "q134_kcore" -> q134,
    "q147_random_walks" -> q147)
}
