package graft.ext

import org.apache.spark.sql.functions._
import graft.queries.QueryDef
import graft.queries.QueryDef.tbl
import graft.ext.Ext._
import graft.ext.ExtraQueries._

/** Graph family (CATALOG.md 'Graphs'): PageRank/HITS/BFS, triangles, k-core, communities (batch + incremental), link graph authority and selection.
  *
  * Split verbatim out of the former Ext.scala / ExtraQueries.scala
  * mega-files along CATALOG.md family lines (round 7) — shared oracle
  * helpers remain in [[Ext]] / [[ExtraQueries]] as `private[ext]`. */
object GraphQueries {

  /** Rounds 1..n of the label-propagation oracle ladder (`l0` seeds it;
    * `sym` is the symmetric edge list): each node takes the most frequent
    * neighbour label, ties to the smallest label. */
  private def lpaRounds(n: Int): String = (1 to n).map { i =>
    s"""n$i AS (
       |  SELECT sym.b AS node, l${i - 1}.lab, COUNT(*) AS c
       |  FROM l${i - 1} JOIN sym ON sym.a = l${i - 1}.node GROUP BY 1, 2),
       |l$i AS (
       |  SELECT node, lab FROM (
       |    SELECT node, lab,
       |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
       |    FROM n$i) WHERE rn = 1)""".stripMargin
  }.mkString(",\n")

  /** Rounds 1..n of the k-truss (k = 3) oracle peel (`e0`/`s0` seed it):
    * an edge survives a round while some triangle supports it. */
  private def trussRounds(n: Int): String = (1 to n).map { i =>
    s"""p$i AS MATERIALIZED (
       |  SELECT e.a, e.b,
       |    (SELECT COUNT(*) FROM s${i - 1} x JOIN s${i - 1} y ON x.b = y.b
       |     WHERE x.a = e.a AND y.a = e.b) AS sup
       |  FROM e${i - 1} e),
       |e$i AS MATERIALIZED (SELECT a, b FROM p$i WHERE sup >= 1),
       |s$i AS (SELECT a, b FROM e$i UNION ALL SELECT b, a FROM e$i)""".stripMargin
  }.mkString(",\n")

  /** One-shot hop-4 Brandes betweenness over the FULL host graph from
    * the [[ExtraQueries.SeedHosts]] seeds — the shared oracle of q312
    * (batch) and q324 (maintained form ≡ this recompute, the q322/q323
    * convention). Forward σ ladder with the settled/frontier split,
    * then the per-level ppm dependency ladder with floor per term. */
  private lazy val hostBetweenness4Sql: String = {
    val fwd = (1 to 4).map(i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT f.seed, sym.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
         |  FROM f${i - 1} f JOIN sym ON sym.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c
         |                    WHERE c.seed = f.seed AND c.node = sym.dst)
         |  GROUP BY 1, 2),
         |c$i AS (SELECT seed, node FROM c${i - 1}
         |        UNION ALL SELECT seed, node FROM f$i)""".stripMargin)
      .mkString(",\n")
    val bwd = (3 to 1 by -1).map(r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT f.seed, f.node,
         |    COALESCE((SELECT CAST(SUM((f.sigma * (1000000 + b.dd)) // fw.sigma) AS BIGINT)
         |              FROM sym e
         |              JOIN f${r + 1} fw ON fw.seed = f.seed AND fw.node = e.dst
         |              JOIN b${r + 1} b ON b.seed = fw.seed AND b.node = fw.node
         |              WHERE e.src = f.node), 0) AS dd
         |  FROM f$r f)""".stripMargin).mkString(",\n")
    hostGraphSql +
      s""",
         |f0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
         |       FROM $seedValuesSql),
         |c0 AS (SELECT seed, node FROM f0),
         |$fwd,
         |b4 AS (SELECT seed, node, CAST(0 AS BIGINT) AS dd FROM f4),
         |$bwd
         |SELECT node AS host, CAST(SUM(dd) AS BIGINT) AS bc_ppm,
         |  (COUNT(*) FILTER (WHERE dd > 0))::BIGINT AS n_seeds_through
         |FROM (SELECT seed, node, dd FROM b1
         |      UNION ALL SELECT seed, node, dd FROM b2
         |      UNION ALL SELECT seed, node, dd FROM b3
         |      UNION ALL SELECT seed, node, dd FROM b4)
         |GROUP BY node ORDER BY host""".stripMargin
  }

  /** Host-graph deterministic walk corpus (2 walks × 4 hops from every
    * host, hash-mod-degree hop rule) as a CTE chain ending in `corpus`
    * (origin, walk, step, node) — the shared substrate of the q314
    * readout and the q325 skip-gram rollup. */
  private lazy val hostWalkCorpusSql: String = {
    // single line: a continuation margin here would be re-stripped by
    // the enclosing templates' stripMargin (nested-interpolation hazard)
    val h = (stepLit: String) =>
      "CAST(('0x' || substring(md5(origin||':'||CAST(walk AS VARCHAR)" +
        s"||':'||$stepLit||':'||cur),1,15)) AS BIGINT)"
    val hops = (1 to 4).map(i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT origin, walk, adj.dst AS cur
         |  FROM w${i - 1} JOIN adj ON adj.src = w${i - 1}.cur
         |    AND adj.idx = ${h(s"'$i'")} % adj.deg)""".stripMargin)
      .mkString(",\n")
    val readout = (0 to 4).map(i =>
      s"SELECT origin, CAST(walk AS BIGINT) AS walk, CAST($i AS BIGINT) AS step, cur AS node FROM w$i")
      .mkString("\n  UNION ALL\n  ")
    hostGraphSql +
      s""",
         |adj AS MATERIALIZED (
         |  SELECT src, dst,
         |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         |    COUNT(*) OVER (PARTITION BY src) AS deg
         |  FROM sym),
         |w0 AS (SELECT src AS origin, w AS walk, src AS cur
         |       FROM (SELECT DISTINCT src FROM sym),
         |            unnest(generate_series(0, 1)) t(w)),
         |$hops,
         |corpus AS MATERIALIZED (
         |  $readout)""".stripMargin
  }

  /** Hop-4 per-EDGE Brandes over the full host graph from the
    * [[ExtraQueries.SeedHosts]] seeds, as a CTE chain ending in `ebc`
    * (src, dst, ebc_ppm, n_seeds_through) — shared by q334 (the
    * readout) and q335 (the Girvan–Newman split that consumes it). */
  private lazy val hostEdgeBetweennessSql: String = {
    val fwd = (1 to 4).map(i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT f.seed, sym.dst AS node, CAST(SUM(f.sigma) AS BIGINT) AS sigma
         |  FROM f${i - 1} f JOIN sym ON sym.src = f.node
         |  WHERE NOT EXISTS (SELECT 1 FROM c${i - 1} c
         |                    WHERE c.seed = f.seed AND c.node = sym.dst)
         |  GROUP BY 1, 2),
         |c$i AS (SELECT seed, node FROM c${i - 1}
         |        UNION ALL SELECT seed, node FROM f$i)""".stripMargin)
      .mkString(",\n")
    val bwd = (3 to 0 by -1).map { r =>
      val terms =
        s"""t$r AS MATERIALIZED (
           |  SELECT f.seed, f.node AS src, e.dst,
           |    CAST((f.sigma * (1000000 + b.dd)) // fw.sigma AS BIGINT) AS term
           |  FROM f$r f JOIN sym e ON e.src = f.node
           |  JOIN f${r + 1} fw ON fw.seed = f.seed AND fw.node = e.dst
           |  JOIN b${r + 1} b ON b.seed = f.seed AND b.node = e.dst)""".stripMargin
      if (r == 0) terms
      else terms + s""",
           |b$r AS MATERIALIZED (
           |  SELECT f.seed, f.node,
           |    COALESCE((SELECT CAST(SUM(term) AS BIGINT) FROM t$r
           |              WHERE t$r.seed = f.seed AND t$r.src = f.node), 0) AS dd
           |  FROM f$r f)""".stripMargin
    }.mkString(",\n")
    hostGraphSql +
      s""",
         |f0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
         |       FROM $seedValuesSql),
         |c0 AS (SELECT seed, node FROM f0),
         |$fwd,
         |b4 AS (SELECT seed, node, CAST(0 AS BIGINT) AS dd FROM f4),
         |$bwd,
         |ebc AS MATERIALIZED (
         |  SELECT src, dst, CAST(SUM(term) AS BIGINT) AS ebc_ppm,
         |    (COUNT(*) FILTER (WHERE term > 0))::BIGINT AS n_seeds_through
         |  FROM (SELECT seed, src, dst, term FROM t3
         |        UNION ALL SELECT seed, src, dst, term FROM t2
         |        UNION ALL SELECT seed, src, dst, term FROM t1
         |        UNION ALL SELECT seed, src, dst, term FROM t0)
         |  GROUP BY src, dst)""".stripMargin
  }

  def queries: Seq[QueryDef] = Seq(

    // Supplier authority via integer-exact PageRank on the symmetrized
    // customer-supplier bipartite graph (edges = distinct (o_custkey,
    // l_suppkey) from orders x lineitem; namespaces split as 2k / 2k+1).
    // Fixed 4 iterations, all arithmetic floor-division on longs — the
    // oracle replays the identical recurrence as 4 chained CTEs. The
    // iterative sibling of q44's connected components: one rank join +
    // one partial-agg sum per iteration, Pregel-shaped at any scale.
    QueryDef(
      "q132_pagerank",
      (s, dir) => {
        val e = tbl(s, dir, "orders").join(tbl(s, dir, "lineitem"),
            col("o_orderkey") === col("l_orderkey"))
          .select((col("o_custkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst"))
          .distinct()
        val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        Graphs.integerPageRank(sym, iters = 4)
          .where(col("node") % 2 === 1)
          .select(expr("(node - 1) div 2").cast("long").as("s_suppkey"),
            col("r").as("rank"))
          .orderBy(col("s_suppkey"))
      },
      Some({
        val m = 1000000000000L
        val iterCte = (0 until 4).map(i =>
          s"""r${i + 1} AS (
             |  SELECT sym.dst AS node, (SELECT base FROM c) + (85 * SUM(r$i.r // deg.deg)) // 100 AS r
             |  FROM r$i JOIN sym ON r$i.node = sym.src JOIN deg ON sym.src = deg.src
             |  GROUP BY sym.dst)""".stripMargin).mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
           |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
           |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
           |c AS (SELECT (15 * ($m // COUNT(*))) // 100 AS base, $m // COUNT(*) AS r0 FROM deg),
           |r0 AS (SELECT src AS node, (SELECT r0 FROM c) AS r FROM deg),
           |""".stripMargin + iterCte + """
           |SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey, CAST(r AS BIGINT) AS rank
           |FROM r4 WHERE node % 2 = 1 ORDER BY s_suppkey""".stripMargin
      }),
    ),


    // Exact triangle counts + local clustering coefficients over the part
    // co-purchase graph (parts sharing an order), via degree-ordered edge
    // orientation — O(m^1.5) wedge bound instead of Σdeg². The oracle
    // enumerates each triangle once by id order (a<b<c); orientation order
    // differs but the triangle SET is identical, so per-node counts match
    // exactly. lcc in integer ppm (no float division anywhere).
    QueryDef(
      "q139_triangle_count",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = Graphs.basketPairs(li)
        Graphs.triangleCounts(edges).orderBy(col("node"))
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS (
             |  SELECT node, COUNT(*) AS deg
             |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY node),
             |t AS (
             |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
             |  FROM e e1 JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |tc AS (
             |  SELECT node, COUNT(*) AS tri
             |  FROM (SELECT u AS node FROM t
             |        UNION ALL SELECT v FROM t
             |        UNION ALL SELECT w FROM t)
             |  GROUP BY node)
             |SELECT d.node, d.deg, COALESCE(tc.tri, 0) AS tri,
             |  CAST(CASE WHEN d.deg >= 2
             |    THEN (CAST(COALESCE(tc.tri, 0) AS HUGEINT) * 2000000)
             |         // (CAST(d.deg AS HUGEINT) * (d.deg - 1))
             |    ELSE 0 END AS BIGINT) AS lcc_ppm
             |FROM deg d LEFT JOIN tc ON d.node = tc.node
             |ORDER BY d.node""".stripMargin),
    ),


    // Fixed-round k-core peel (k=85, 4 rounds) on the part co-purchase
    // graph: dense-subgraph pre-filter, the iterative sibling of q139's
    // triangles. The oracle replays the identical peels as chained CTEs;
    // survivor degrees after round 4 are the contract (convergence not
    // required, q132's fixed-iteration pattern).
    QueryDef(
      "q148_kcore_peel",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = Graphs.basketPairs(li)
        Graphs.kCorePeel(edges, k = 85, rounds = 4).orderBy(col("node"))
      },
      Some({
        val roundCtes = (1 to 4).map { r =>
          s"""k$r AS MATERIALIZED (
             |  SELECT node FROM (SELECT a AS node FROM e${r - 1}
             |                    UNION ALL SELECT b FROM e${r - 1})
             |  GROUP BY node HAVING COUNT(*) >= 85),
             |e$r AS MATERIALIZED (
             |  SELECT a, b FROM e${r - 1}
             |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |""".stripMargin + roundCtes + """
           |SELECT node, COUNT(*) AS deg
           |FROM (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
           |GROUP BY node ORDER BY node""".stripMargin
      }),
    ),


    // Crawl-budget allocation per HOST: the alpha=1/2 mixture planner
    // (q126) keyed by canonicalized host (q119/q120's derivation) — how
    // many tokens to take from each host under a global budget, sqrt-
    // smoothed so megahosts don't monopolize it. Pure composition of two
    // oracle-proven operators at a new granularity.
    QueryDef(
      "q162_host_budget",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val withHost = d.select(col("text"),
          Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
            .as("host"))
        Sampling.alphaMixturePlan(withHost, "text", "host", budgetTokens = 15000L)
          .withColumnRenamed("source", "host")
          .orderBy(col("host"))
      },
      Some("WITH u AS (SELECT doc_id, " + Web.fixtureUrlSql +
        " AS url FROM documents),\n" + Web.canonicalizeSql + ",\n" +
        """hc AS (
          |  SELECT c.host, COUNT(*) AS docs,
          |    CAST(SUM(len(string_split(doc.text,' '))) AS BIGINT) AS tokens
          |  FROM c JOIN documents doc ON c.doc_id = doc.doc_id
          |  GROUP BY c.host),
          |s0 AS (SELECT hc.*, CAST(floor(sqrt(CAST(tokens AS DOUBLE))) AS BIGINT) AS a FROM hc),
          |s1 AS (SELECT s0.*, CASE WHEN a*a > tokens THEN a-1 ELSE a END AS b FROM s0),
          |ws AS (SELECT host, docs, tokens,
          |         CASE WHEN (b+1)*(b+1) <= tokens THEN b+1 ELSE b END AS w_sqrt FROM s1),
          |t AS (SELECT ws.*, CAST(SUM(w_sqrt) OVER () AS BIGINT) AS sum_sqrt FROM ws),
          |w AS (SELECT host, docs, tokens, w_sqrt,
          |        (w_sqrt * 1000000) // sum_sqrt AS weight_ppm FROM t),
          |g AS (SELECT w.*, (CAST(15000 AS BIGINT) * weight_ppm) // 1000000 AS target_tokens FROM w),
          |r AS (SELECT g.*, LEAST(1000000, (target_tokens * 1000000) // tokens) AS rate_ppm FROM g)
          |SELECT host, docs, tokens, w_sqrt, weight_ppm, target_tokens, rate_ppm,
          |  (tokens * rate_ppm) // 1000000 AS expected_tokens,
          |  target_tokens > tokens AS oversubscribed
          |FROM r ORDER BY host""".stripMargin),
    ),


    // Host-level link graph from HTML: deterministic href fixture
    // (syntheticHtmlLinks) -> real regex extraction (extractLinks) ->
    // (src_host from the doc's canonical URL, dst_host from the href)
    // edge counts. The crawl-frontier / authority-graph feeder; the
    // oracle re-derives targets straight from tokens (same hash bits) so
    // Spark's extraction path is what's under test. Map-only until the
    // (host, host) rollup.
    QueryDef(
      "q171_link_graph",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val links = Web.extractLinks(
          Web.syntheticHtmlLinks(d, "doc_id", "text"), "doc_id", "html")
        val srcH = d.select(col("doc_id"),
          Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
            .as("src_host"))
        links.join(srcH, "doc_id")
          .select(col("src_host"), Web.hostOf(col("url")).as("dst_host"))
          .groupBy(col("src_host"), col("dst_host"))
          .agg(count(lit(1)).as("n_links"))
          .orderBy(col("src_host"), col("dst_host"))
      },
      Some("WITH u AS (SELECT doc_id, " + Web.fixtureUrlSql +
        " AS url FROM documents),\n" + Web.canonicalizeSql + ",\n" +
        """t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
          |x AS (
          |  SELECT doc_id,
          |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)||':'||CAST(j AS VARCHAR)
          |      ||':'||CAST(k AS VARCHAR)||':href'),1,15)) AS BIGINT) AS h2
          |  FROM t,
          |    unnest(generate_series(0, (len(toks)+3)//4 - 1)) uj(j),
          |    unnest(generate_series(0, LEAST(4, len(toks) - j*4) - 1)) uk(k)
          |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)||':'||CAST(j AS VARCHAR)
          |    ||':'||CAST(k AS VARCHAR)),1,15)) AS BIGINT) % 4 = 0),
          |e AS (
          |  SELECT c.host AS src_host,
          |    'h' || CAST(x.h2 % 20 AS VARCHAR) || '.example.org' AS dst_host
          |  FROM x JOIN c ON c.doc_id = x.doc_id)
          |SELECT src_host, dst_host, COUNT(*) AS n_links
          |FROM e GROUP BY 1, 2 ORDER BY src_host, dst_host""".stripMargin),
    ),


    // Host authority: integer PageRank (q132's bit-exact recurrence) over
    // the symmetrized q171 link graph — which hosts sit central in the
    // crawl's citation structure, composed from two oracle-proven
    // operators (link extraction feeds graph analytics with STRING node
    // ids — the group/join keys never needed to be dense ints).
    QueryDef(
      "q172_host_authority",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val links = Web.extractLinks(
          Web.syntheticHtmlLinks(d, "doc_id", "text"), "doc_id", "html")
        val srcH = d.select(col("doc_id"),
          Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
            .as("src"))
        val e = links.join(srcH, "doc_id")
          .select(col("src"), Web.hostOf(col("url")).as("dst")).distinct()
        val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct()
        Graphs.integerPageRank(sym, iters = 4)
          .withColumnRenamed("node", "host").withColumnRenamed("r", "rank")
          .orderBy(col("host"))
      },
      Some({
        val m = 1000000000000L
        val iterCte = (0 until 4).map(i =>
          s"""r${i + 1} AS (
             |  SELECT sym.dst AS node, (SELECT base FROM cst) + (85 * SUM(r$i.r // deg.deg)) // 100 AS r
             |  FROM r$i JOIN sym ON r$i.node = sym.src JOIN deg ON sym.src = deg.src
             |  GROUP BY sym.dst)""".stripMargin).mkString(",\n")
        "WITH u AS (SELECT doc_id, " + Web.fixtureUrlSql +
          " AS url FROM documents),\n" + Web.canonicalizeSql + ",\n" +
          s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
             |x AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)||':'||CAST(j AS VARCHAR)
             |      ||':'||CAST(k AS VARCHAR)||':href'),1,15)) AS BIGINT) AS h2
             |  FROM t,
             |    unnest(generate_series(0, (len(toks)+3)//4 - 1)) uj(j),
             |    unnest(generate_series(0, LEAST(4, len(toks) - j*4) - 1)) uk(k)
             |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)||':'||CAST(j AS VARCHAR)
             |    ||':'||CAST(k AS VARCHAR)),1,15)) AS BIGINT) % 4 = 0),
             |e AS (
             |  SELECT DISTINCT c.host AS src,
             |    'h' || CAST(x.h2 % 20 AS VARCHAR) || '.example.org' AS dst
             |  FROM x JOIN c ON c.doc_id = x.doc_id),
             |sym AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
             |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
             |cst AS (SELECT (15 * ($m // COUNT(*))) // 100 AS base, $m // COUNT(*) AS r0 FROM deg),
             |r0 AS (SELECT src AS node, (SELECT r0 FROM cst) AS r FROM deg),
             |""".stripMargin + iterCte + """
             |SELECT node AS host, CAST(r AS BIGINT) AS rank FROM r4 ORDER BY host""".stripMargin
      }),
    ),


    // Label-propagation communities (3 synchronous rounds, ties to the
    // smallest label — fully deterministic) over the co-purchase graph:
    // the mesoscale grouping layer between CC (connectivity) and
    // triangles/k-core (cohesion/density).
    QueryDef(
      "q183_lpa_communities",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = Graphs.basketPairs(li)
        Graphs.labelPropagation(edges, rounds = 3, canonicalInput = true)
          .withColumnRenamed("lab", "label")
          .orderBy(col("node"))
      },
      Some({
        s"""WITH e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
           |           FROM lineitem a JOIN lineitem b
           |             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(3)}
           |SELECT node, lab AS label FROM l3 ORDER BY node""".stripMargin
      }),
    ),


    // Crawl-frontier distance: exact min-hop BFS distance of every host
    // from a trusted seed set over the symmetrized link graph, 4 rounds
    // (unreached hosts absent). Delta-frontier Pregel expansion — per
    // round one frontier⋈edges join + one node-keyed min, O(m) total.
    QueryDef(
      "q187_bfs_frontier",
      (s, dir) => {
        import s.implicits._
        Graphs.bfsDistances(hostLinkGraph(s, dir),
            SeedHosts.toDF("node"), rounds = 4)
          .select(col("node").as("host"), col("d").as("dist"))
          .orderBy(col("host"))
      },
      Some {
        val rounds = (1 to 4).map(i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, MIN(d) AS d FROM (
             |    SELECT node, d FROM d${i - 1}
             |    UNION ALL
             |    SELECT sym.dst, d${i - 1}.d + 1
             |    FROM d${i - 1} JOIN sym ON d${i - 1}.node = sym.src) z
             |  GROUP BY node)""".stripMargin).mkString(",\n")
        hostGraphSql +
          s""",
             |d0 AS (SELECT node, 0 AS d FROM $seedValuesSql),
             |$rounds
             |SELECT node AS host, CAST(d AS BIGINT) AS dist
             |FROM d4 ORDER BY host""".stripMargin
      },
    ),


    // Seeded authority (TrustRank shape): personalized integer PageRank
    // with the teleport vector on the seed hosts — authority relative to
    // a trusted core, the crawl-curation counterpart of q172's global
    // authority. Bit-exact integer recurrence, 4 iterations; zero-rank
    // tail dropped (state ∝ reached set).
    QueryDef(
      "q188_trust_rank",
      (s, dir) => {
        import s.implicits._
        Graphs.personalizedPageRank(hostLinkGraph(s, dir),
            SeedHosts.toDF("node"), iters = 4)
          .select(col("node").as("host"), col("r").as("rank"))
          .orderBy(col("host"))
      },
      Some {
        val m = 1000000000000L
        val iters = (1 to 4).map(i =>
          s"""p$i AS MATERIALIZED (
             |  SELECT node, SUM(r) AS r FROM (
             |    SELECT sym.dst AS node,
             |      (85 * SUM(p${i - 1}.r // deg.deg)) // 100 AS r
             |    FROM p${i - 1}
             |    JOIN sym ON p${i - 1}.node = sym.src
             |    JOIN deg ON sym.src = deg.src
             |    GROUP BY sym.dst
             |    UNION ALL
             |    SELECT node, (SELECT tel FROM cst) FROM sv) z
             |  GROUP BY node HAVING SUM(r) > 0)""".stripMargin).mkString(",\n")
        hostGraphSql +
          s""",
             |sv AS (SELECT node FROM $seedValuesSql),
             |cst AS (SELECT (15 * ($m // ${SeedHosts.size})) // 100 AS tel),
             |p0 AS (SELECT node, $m // ${SeedHosts.size} AS r FROM sv),
             |$iters
             |SELECT node AS host, CAST(r AS BIGINT) AS rank
             |FROM p4 ORDER BY host""".stripMargin
      },
    ),


    // HITS hubs and authorities over the DIRECTED host link graph: doc
    // hosts point (hub side), synthetic target hosts are pointed at
    // (authority side) — integer max-rescaled half-steps, 2 iterations,
    // bit-exact (q172's PageRank discipline applied to the two-sided
    // centrality).
    QueryDef(
      "q197_hits",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val links = Web.extractLinks(
          Web.syntheticHtmlLinks(d, "doc_id", "text"), "doc_id", "html")
        val srcH = d.select(col("doc_id"),
          Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
            .as("src"))
        val e = links.join(srcH, "doc_id")
          .select(col("src"), Web.hostOf(col("url")).as("dst")).distinct()
        Graphs.integerHits(e, iters = 2)
          .withColumnRenamed("node", "host")
          .orderBy(col("host"))
      },
      Some {
        val iters = (1 to 2).map { i =>
          val (hp, ap) = (s"h${i - 1}", s"a$i")
          s"""a${i}r AS MATERIALIZED (
             |  SELECT e.dst AS node, SUM($hp.h) AS a
             |  FROM $hp JOIN e ON e.src = $hp.node GROUP BY e.dst),
             |a$i AS (
             |  SELECT node, (a * 1000000) // (SELECT MAX(a) FROM a${i}r) AS a
             |  FROM a${i}r),
             |h${i}r AS MATERIALIZED (
             |  SELECT e.src AS node, SUM($ap.a) AS h
             |  FROM $ap JOIN e ON e.dst = $ap.node GROUP BY e.src),
             |h$i AS (
             |  SELECT node, (h * 1000000) // (SELECT MAX(h) FROM h${i}r) AS h
             |  FROM h${i}r)""".stripMargin
        }.mkString(",\n")
        hostGraphSql +
          s""",
             |h0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS h FROM e),
             |$iters
             |SELECT COALESCE(h2.node, a2.node) AS host,
             |  CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub,
             |  CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth
             |FROM h2 FULL OUTER JOIN a2 ON h2.node = a2.node
             |ORDER BY host""".stripMargin
      },
    ),


    // Near-dup cluster RADIUS: hop distance of the farthest member from
    // its cluster's canonical root (min id) over the q26 pair graph —
    // the q195 coverage audit's depth dimension. A radius-k member is
    // only a near-dup of the survivor through k transitive steps; large
    // radii are exactly where aggressive cluster-collapse dedup loses
    // non-duplicates. Multi-source BFS with ALL roots as seeds (each
    // component contains exactly its own root, so "distance from nearest
    // root" IS the within-cluster distance), 4-round horizon (dense
    // near-dup clusters rarely exceed radius 2; the horizon is the
    // documented contract, as in q187).
    QueryDef(
      "q220_cluster_radius",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5))
        val cc = PinnedCache.pin(Dedup.connectedComponents(pairs))
        val sym = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        val dist = Graphs.bfsDistances(sym,
          cc.select(col("root").as("node")).distinct(), rounds = 4)
        val byDist = dist
          .join(cc.select(col("id").as("node"), col("root")), "node")
          .groupBy(col("root"), col("d")).agg(count(lit(1)).as("c"))
        byDist.groupBy(col("root"))
          .agg(sum(col("c")).as("size"), max(col("d")).as("radius"))
          .join(byDist.select(col("root"), col("d").as("radius"),
            col("c").as("n_at_radius")), Seq("root", "radius"))
          .select(col("root").as("root_id"), col("size"), col("radius"),
            col("n_at_radius"))
          .orderBy(col("root_id"))
      },
      Some {
        // chained CTEs that reference their predecessor twice INLINE
        // exponentially in DuckDB — MATERIALIZED pins each round (and the
        // expensive pair graph) to one evaluation
        val rounds = (1 to 4).map(i =>
          s"""d$i AS MATERIALIZED (
             |  SELECT node, MIN(d) AS d FROM (
             |    SELECT node, d FROM d${i - 1}
             |    UNION ALL
             |    SELECT sym.dst, d${i - 1}.d + 1
             |    FROM d${i - 1} JOIN sym ON d${i - 1}.node = sym.src) z
             |  GROUP BY node)""".stripMargin).mkString(",\n")
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, list_distinct([tokens[i]||' '||tokens[i+1]||' '||tokens[i+2]
           |                                FOR i IN generate_series(1, len(tokens)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS tokens FROM documents)
           |  WHERE len(tokens) >= 3),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM pairs
           |        UNION ALL SELECT b_id, a_id FROM pairs),
           |r(id, m) AS (
           |  SELECT src, src FROM sym
           |  UNION
           |  SELECT r.id, e.dst FROM r JOIN sym e ON e.src = r.m),
           |labels AS MATERIALIZED (SELECT id, MIN(m) AS root FROM r GROUP BY id),
           |d0 AS (SELECT DISTINCT root AS node, 0 AS d FROM labels),
           |$rounds,
           |bd AS MATERIALIZED (
           |  SELECT l.root, d4.d, COUNT(*) AS c
           |  FROM d4 JOIN labels l ON l.id = d4.node
           |  GROUP BY 1, 2),
           |agg AS (
           |  SELECT root, CAST(SUM(c) AS BIGINT) AS size,
           |    CAST(MAX(d) AS BIGINT) AS radius
           |  FROM bd GROUP BY root)
           |SELECT agg.root AS root_id, agg.size, agg.radius,
           |  CAST(bd.c AS BIGINT) AS n_at_radius
           |FROM agg JOIN bd ON bd.root = agg.root AND bd.d = agg.radius
           |ORDER BY root_id""".stripMargin
      },
    ),


    // Link-graph reciprocity: share of DIRECTED host edges whose reverse
    // edge also exists — high reciprocity = mutual-citation cliques (link
    // farms), low = hierarchical citation. One self-semi-join on the
    // swapped key over the distinct edge list.
    QueryDef(
      "q221_link_reciprocity",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val links = Web.extractLinks(
          Web.syntheticHtmlLinks(d, "doc_id", "text"), "doc_id", "html")
        val srcH = d.select(col("doc_id"),
          Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
            .as("src"))
        val e = PinnedCache.pin(links.join(srcH, "doc_id")
          .select(col("src"), Web.hostOf(col("url")).as("dst")).distinct()
          .where(col("src") =!= col("dst")))
        val recip = e.join(
          e.select(col("dst").as("src"), col("src").as("dst")),
          Seq("src", "dst"), "left_semi")
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
          .select(col("n_edges"), col("n_reciprocal"),
            expr("(n_reciprocal * 1000000) div n_edges").as("reciprocity_ppm"))
      },
      Some(hostGraphSql +
        """,
          |ee AS MATERIALIZED (SELECT src, dst FROM e WHERE src <> dst),
          |r AS (SELECT a.src, a.dst FROM ee a
          |      WHERE EXISTS (SELECT 1 FROM ee b
          |                    WHERE b.src = a.dst AND b.dst = a.src))
          |SELECT (SELECT COUNT(*) FROM ee) AS n_edges,
          |  (SELECT COUNT(*) FROM r) AS n_reciprocal,
          |  CAST(((SELECT COUNT(*) FROM r) * 1000000)
          |    // (SELECT COUNT(*) FROM ee) AS BIGINT) AS reciprocity_ppm"""
          .stripMargin),
    ),


    // Degree spectrum: quarter-bit log-log histogram of host degrees over
    // the symmetrized link graph — the scale-free-or-not audit (a
    // straight line here is the graph-side Zipf of q199). Degree rollup
    // then a bin rollup; all integer.
    QueryDef(
      "q222_degree_spectrum",
      (s, dir) => hostLinkGraph(s, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(TextAnalysis.quarterLog2(col("deg")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_hosts"))
        .orderBy(col("bin")),
      Some(hostGraphSql +
        """,
          |b AS (
          |  SELECT CAST(CASE WHEN length(bin(deg)) - 1 <= 14
          |    THEN length(bin(deg*deg*deg*deg)) - 1
          |    ELSE 4 * (length(bin(deg)) - 15) +
          |         length(bin((deg >> (length(bin(deg)) - 15))
          |                   *(deg >> (length(bin(deg)) - 15))
          |                   *(deg >> (length(bin(deg)) - 15))
          |                   *(deg >> (length(bin(deg)) - 15)))) - 1 END AS BIGINT)
          |    AS bin
          |  FROM deg)
          |SELECT bin, COUNT(*) AS n_hosts FROM b
          |GROUP BY bin ORDER BY bin""".stripMargin),
    ),


    // Degree assortativity: do high-degree hosts link to high-degree
    // hosts? Pearson correlation of endpoint degrees over the symmetric
    // edge list in the q199 integer-moment form — num/den exact longs,
    // one double division. Negative = hub-and-spoke (typical web), near
    // zero = random, positive = core-periphery mixing.
    QueryDef(
      "q223_assortativity",
      (s, dir) => {
        val sym = PinnedCache.pin(hostLinkGraph(s, dir))
        val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val xy = sym
          .join(deg.select(col("src"), col("deg").as("x")), "src")
          .join(deg.select(col("src").as("dst"), col("deg").as("y")), "dst")
        xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("var_x"),
            (col("n") * col("syy") - col("sy") * col("sy")).as("var_y"))
          .select(col("n"), col("cov_num"), col("var_x"), col("var_y"),
            (col("cov_num").cast("double") /
              sqrt(col("var_x").cast("double") * col("var_y").cast("double")))
              .as("assortativity"))
      },
      Some(hostGraphSql +
        """,
          |xy AS (
          |  SELECT dx.deg AS x, dy.deg AS y
          |  FROM sym
          |  JOIN deg dx ON dx.src = sym.src
          |  JOIN deg dy ON dy.src = sym.dst),
          |m AS (
          |  SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
          |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
          |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
          |  FROM xy)
          |SELECT n, n * sxy - sx * sy AS cov_num,
          |  n * sxx - sx * sx AS var_x, n * syy - sy * sy AS var_y,
          |  CAST(n * sxy - sx * sy AS DOUBLE)
          |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
          |           * CAST(n * syy - sy * sy AS DOUBLE)) AS assortativity
          |FROM m""".stripMargin),
    ),


    // Greedy crawl knapsack: hosts ranked by authority-per-token
    // (q172's integer PageRank over q171's link graph ÷ the host's token
    // mass), taken in ratio order until half the corpus token budget is
    // spent — the "what to crawl first under a budget" plan as one
    // cumulative-sum window over the host rollup. All integer (ratio in
    // ppm, floor).
    QueryDef(
      "q235_crawl_knapsack",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val d = tbl(s, dir, "documents")
        val hostTok = d.select(
            Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
              .as("host"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .groupBy(col("host")).agg(sum(col("n_tok")).as("tokens"))
        val rank = {
          val links = Web.extractLinks(
            Web.syntheticHtmlLinks(d, "doc_id", "text"), "doc_id", "html")
          val srcH = d.select(col("doc_id"),
            Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
              .as("src"))
          val e = links.join(srcH, "doc_id")
            .select(col("src"), Web.hostOf(col("url")).as("dst")).distinct()
          val sym = e.unionByName(
            e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
          Graphs.integerPageRank(sym, iters = 4)
            .withColumnRenamed("node", "host").withColumnRenamed("r", "rank")
        }
        val scored = hostTok.join(rank, "host")
          .select(col("host"), col("tokens"), col("rank"),
            expr("(rank * 1000000) div tokens").as("ratio_ppm"))
        val w = Window.orderBy(col("ratio_ppm").desc, col("host"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored
          .withColumn("cum_tokens", sum(col("tokens")).over(w))
          .crossJoin(broadcast(hostTok.agg(
            expr("sum(tokens) div 2").as("budget"))))
          .where(col("cum_tokens") <= col("budget"))
          .select(col("host"), col("tokens"), col("rank"), col("ratio_ppm"),
            col("cum_tokens"))
          .orderBy(col("ratio_ppm").desc, col("host"))
      },
      Some(hostGraphSql +
        s""",
           |ht AS (
           |  SELECT c.host, CAST(SUM(len(string_split(d.text,' '))) AS BIGINT) AS tokens
           |  FROM documents d JOIN c ON c.doc_id = d.doc_id
           |  GROUP BY c.host),
           |cst AS (SELECT (15 * (1000000000000 // COUNT(*))) // 100 AS base,
           |          1000000000000 // COUNT(*) AS r0 FROM deg),
           |r0 AS (SELECT src AS node, (SELECT r0 FROM cst) AS r FROM deg),
           |${(1 to 4).map(i =>
              s"""r$i AS MATERIALIZED (
                 |  SELECT sym.dst AS node,
                 |    (SELECT base FROM cst) + (85 * SUM(r${i - 1}.r // deg.deg)) // 100 AS r
                 |  FROM r${i - 1} JOIN sym ON r${i - 1}.node = sym.src
                 |  JOIN deg ON sym.src = deg.src
                 |  GROUP BY sym.dst)""".stripMargin).mkString(",\n")},
           |sc AS (
           |  SELECT ht.host, ht.tokens, CAST(r4.r AS BIGINT) AS rank,
           |    CAST((r4.r * 1000000) // ht.tokens AS BIGINT) AS ratio_ppm
           |  FROM ht JOIN r4 ON r4.node = ht.host),
           |cum AS (
           |  SELECT *, CAST(SUM(tokens) OVER (ORDER BY ratio_ppm DESC, host
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           |  FROM sc)
           |SELECT host, tokens, rank, ratio_ppm, cum_tokens
           |FROM cum
           |WHERE cum_tokens <= (SELECT CAST(SUM(tokens) // 2 AS BIGINT) FROM ht)
           |ORDER BY ratio_ppm DESC, host""".stripMargin),
    ),


    // Takedown-impact what-if: if the three token-heaviest hosts vanish
    // (legal takedown, robots change, dead site), how much of each
    // source's token mass goes with them? Broadcast top-k host set
    // against the per-(source, host) rollup — the resilience report a
    // crawl-dependent corpus needs before it happens.
    QueryDef(
      "q238_takedown_impact",
      (s, dir) => {
        val d = tbl(s, dir, "documents")
        val byHost = PinnedCache.pin(d.select(col("source"),
            Web.hostOf(Web.fixtureUrl(col("doc_id"), col("source"), col("lang")))
              .as("host"),
            size(split(col("text"), " ")).cast("long").as("n_tok")))
        val top = byHost.groupBy(col("host")).agg(sum(col("n_tok")).as("ht"))
          .orderBy(col("ht").desc, col("host")).limit(3)
          .select(col("host"), lit(1).as("hit"))
        byHost.join(broadcast(top), Seq("host"), "left_outer")
          .groupBy(col("source"))
          .agg(sum(col("n_tok")).as("tokens"),
            sum(when(col("hit").isNotNull, col("n_tok")).otherwise(0L))
              .as("tokens_lost"))
          .select(col("source"), col("tokens"), col("tokens_lost"),
            expr("(tokens_lost * 1000000) div tokens").as("lost_ppm"))
          .orderBy(col("source"))
      },
      Some("WITH u AS (SELECT doc_id, " + Web.fixtureUrlSql +
        " AS url FROM documents),\n" + Web.canonicalizeSql + ",\n" +
        """bh AS MATERIALIZED (
          |  SELECT d.source, c.host,
          |    CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_tok
          |  FROM documents d JOIN c ON c.doc_id = d.doc_id),
          |top AS (
          |  SELECT host FROM (
          |    SELECT host, SUM(n_tok) AS ht FROM bh GROUP BY host
          |    ORDER BY ht DESC, host LIMIT 3)),
          |a AS (
          |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tokens,
          |    CAST(SUM(CASE WHEN host IN (SELECT host FROM top)
          |                  THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_lost
          |  FROM bh GROUP BY source)
          |SELECT source, tokens, tokens_lost,
          |  CAST((tokens_lost * 1000000) // tokens AS BIGINT) AS lost_ppm
          |FROM a ORDER BY source""".stripMargin),
    ),


    // INCREMENTAL label-propagation communities (q183's maintained form,
    // the q164 discipline for the mesoscale) on the workload it exists
    // for: the NEAR-DUP graph a nightly crawl maintains. The pair list
    // splits into a base wave and a delta wave (pair-sum parity — the
    // q164 split); the base graph's final labels fold the delta in via
    // bounded re-propagation on the touched ball only
    // (Graphs.incrementalLabelPropagation — 2R−1-hop BFS ball + the same
    // argmin recurrence restricted to ball-incident edges; on this
    // sparse graph the ball IS the delta's neighborhood, unlike a dense
    // co-purchase graph where it would cover everything). The oracle is
    // ONE-SHOT batch LPA over ALL pairs, so a pass proves incremental ≡
    // recompute; IncrementalLpaSpec adds random-wave, bridge-merge, and
    // dag-cycle cases.
    QueryDef(
      "q253_incremental_lpa",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = pairs.where((col("a") + col("b")) % 2 === 0)
        val delta = pairs.where((col("a") + col("b")) % 2 === 1)
        Graphs.incrementalLabelPropagation(
            Graphs.labelPropagation(base, rounds = 2, canonicalInput = true), base, delta, rounds = 2)
          .withColumnRenamed("lab", "label")
          .orderBy(col("node"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)}
           |SELECT node, lab AS label FROM l2 ORDER BY node""".stripMargin
      }),
    ),

    // 3-TRUSS peel of the near-dup graph (fixed 3 rounds, the
    // integerPageRank fixed-iteration contract): an edge survives a
    // round iff it closes at least one triangle in the current graph —
    // the cohesion tier between connectivity (CC) and density (k-core):
    // truss edges are duplicate relations CORROBORATED by a third
    // witness, the high-precision subset a cautious dedup collapses
    // first. Per round: one adjacency join pair + an edge-keyed partial
    // count; reported support is the final round's evaluation. Rounds
    // flatten lineage via localCheckpoint (the q132/q183 discipline).
    QueryDef(
      "q268_ktruss",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        var e = pairs
        var lastSup: org.apache.spark.sql.DataFrame = null
        for (_ <- 1 to 3) {
          val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
          val sup = e.toDF("ea", "eb")
            .join(sym.toDF("pa", "pb"), col("pa") === col("ea"))
            .join(sym.toDF("qa", "qb"),
              col("qa") === col("eb") && col("qb") === col("pb"))
            .groupBy(col("ea"), col("eb")).agg(count(lit(1)).as("support"))
            .where(col("support") >= 1)
          lastSup = sup.localCheckpoint(true)
          e = lastSup.select(col("ea").as("a"), col("eb").as("b"))
        }
        lastSup.select(col("ea").as("a"), col("eb").as("b"), col("support"))
          .orderBy(col("a"), col("b"))
      },
      Some({
        val rounds = (1 to 3).map { i =>
          s"""sym$i AS MATERIALIZED (
             |  SELECT a, b FROM e${i - 1} UNION SELECT b, a FROM e${i - 1}),
             |sup$i AS MATERIALIZED (
             |  SELECT x.a, x.b, COUNT(*) AS sup
             |  FROM e${i - 1} x
             |  JOIN sym$i p ON p.a = x.a
             |  JOIN sym$i q ON q.a = x.b AND q.b = p.b
             |  GROUP BY 1, 2),
             |e$i AS MATERIALIZED (SELECT a, b FROM sup$i WHERE sup >= 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e0 AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |$rounds
           |SELECT a, b, CAST(sup AS BIGINT) AS support
           |FROM sup3 WHERE sup >= 1 ORDER BY a, b""".stripMargin
      }),
    ),

    // INCREMENTAL PageRank (q132's maintained form — the last batch-only
    // graph operator with a nightly story, closing the q164/q253
    // discipline): authority ranks over the symmetrized NEAR-DUP graph,
    // maintained through a delta wave by recomputing only the delta's
    // forward influence cone (Graphs.incrementalPageRank — forward ball
    // radius R + backward dependency ball radius R−1, the same integer
    // recurrence restricted to ball-incident edges with GLOBAL degrees).
    // The base/delta split retains each node's minimum incident pair in
    // the base (row_number by either endpoint), so the base src set
    // equals the union's and the INCREMENTAL path executes (a new-src
    // delta would fall back to batch — r0 = M div N is global). The
    // oracle is ONE-SHOT batch PageRank over ALL pairs, so a pass proves
    // incremental ≡ recompute; IncrementalPageRankSpec adds random-wave,
    // cycle-graph (ball off-by-one sensitive), and fallback cases.
    QueryDef(
      "q304_incremental_pagerank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val marked = pairs
          .withColumn("ra", row_number().over(
            Window.partitionBy(col("a")).orderBy(col("b"))))
          .withColumn("rb", row_number().over(
            Window.partitionBy(col("b")).orderBy(col("a"))))
        val isBase = col("ra") === 1 || col("rb") === 1 ||
          (col("a") + col("b")) % 3 =!= 0
        val base = PinnedCache.pin(marked.where(isBase).select(col("a"), col("b")))
        val delta = marked.where(!isBase).select(col("a"), col("b"))
        def sym(e: org.apache.spark.sql.DataFrame) =
          e.select(col("a").as("src"), col("b").as("dst"))
            .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
        Graphs.incrementalPageRank(
            Graphs.integerPageRank(sym(base), iters = 4),
            sym(base), sym(delta), iters = 4)
          .orderBy(col("node"))
      },
      Some({
        val m = 1000000000000L
        val iterCte = (0 until 4).map(i =>
          s"""r${i + 1} AS (
             |  SELECT sym.dst AS node, (SELECT base FROM c) + (85 * SUM(r$i.r // deg.deg)) // 100 AS r
             |  FROM r$i JOIN sym ON r$i.node = sym.src JOIN deg ON sym.src = deg.src
             |  GROUP BY sym.dst)""".stripMargin).mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e),
           |deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
           |c AS (SELECT (15 * ($m // COUNT(*))) // 100 AS base, $m // COUNT(*) AS r0 FROM deg),
           |r0 AS (SELECT src AS node, (SELECT r0 FROM c) AS r FROM deg),
           |""".stripMargin + iterCte + """
           |SELECT node, CAST(r AS BIGINT) AS r FROM r4 ORDER BY node""".stripMargin
      }),
    ),

    // MODULARITY decomposition of the LPA communities (q253's quality
    // scorecard): per community — nodes, internal edges e_c, degree sum
    // d_c, and the Newman contribution NUMERATOR 4·m·e_c − d_c², all
    // exact BIGINTs with NO division anywhere (the numerator can be
    // negative, and floor-vs-truncate semantics diverge across engines
    // on negatives — so the scalar Q = Σ num / 4m² is left to the
    // reader as a ratio of the emitted integers). m rides along as a
    // 1-row broadcast.
    QueryDef(
      "q272_community_stats",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val lab = PinnedCache.pin(Graphs.labelPropagation(pairs, rounds = 2, canonicalInput = true))
        val m = pairs.agg(count(lit(1)).as("m"))
        val withLab = pairs
          .join(lab.select(col("node").as("a"), col("lab").as("la")), "a")
          .join(lab.select(col("node").as("b"), col("lab").as("lb")), "b")
        val eIn = withLab.where(col("la") === col("lb"))
          .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
        val deg = pairs.select(col("a").as("node"))
          .unionByName(pairs.select(col("b").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val dSum = lab.join(deg, "node")
          .groupBy(col("lab").as("label"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_sum"))
        dSum.join(eIn, Seq("label"), "left_outer")
          .crossJoin(broadcast(m))
          .select(col("label"), col("n_nodes"),
            coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_sum"), col("m"),
            (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
              - col("d_sum") * col("d_sum")).as("q_num"))
          .orderBy(col("label"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)},
           |mm AS (SELECT COUNT(*)::BIGINT AS m FROM e),
           |wl AS (
           |  SELECT la.lab AS la, lb.lab AS lb
           |  FROM e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b),
           |ein AS (SELECT la AS label, COUNT(*)::BIGINT AS e_in
           |        FROM wl WHERE la = lb GROUP BY 1),
           |deg AS (
           |  SELECT a AS node, COUNT(*)::BIGINT AS deg FROM sym GROUP BY 1),
           |ds AS (
           |  SELECT l2.lab AS label, COUNT(*)::BIGINT AS n_nodes,
           |    CAST(SUM(deg.deg) AS BIGINT) AS d_sum
           |  FROM l2 JOIN deg ON deg.node = l2.node GROUP BY 1)
           |SELECT ds.label, ds.n_nodes, COALESCE(ein.e_in, 0) AS e_in,
           |  ds.d_sum, mm.m,
           |  4 * mm.m * COALESCE(ein.e_in, 0) - ds.d_sum * ds.d_sum AS q_num
           |FROM ds LEFT JOIN ein ON ein.label = ds.label CROSS JOIN mm
           |ORDER BY ds.label""".stripMargin
      }),
    ),

    // INCREMENTAL triangle counts (q139's maintained form — the
    // q164/q253/q304 discipline applied to the radius-1 cohesion audit):
    // per-node (deg, tri, lcc_ppm) over the near-dup graph, maintained
    // through a delta wave by recomputing only the delta's radius-1
    // region (Graphs.incrementalTriangleCounts — affected = delta
    // endpoints ∪ wedge-closed common neighbors, recompute on the
    // ball-induced subgraph, everything else passes through verbatim).
    // Unlike q304 there is NO globality guard to dodge: triangles are
    // purely local, so any deterministic base/delta split exercises the
    // incremental path. The oracle is ONE-SHOT batch triangle counting
    // over ALL pairs (q139's enumeration by id order), so a pass proves
    // incremental ≡ recompute; IncrementalTrianglesSpec adds random-wave,
    // wedge-close, new-node, and dag-cycle cases.
    QueryDef(
      "q306_incremental_triangles",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = PinnedCache.pin(
          pairs.where((col("a") + col("b")) % 3 =!= 0))
        val delta = pairs.where((col("a") + col("b")) % 3 === 0)
        Graphs.incrementalTriangleCounts(
            Graphs.triangleCounts(base), base, delta)
          .orderBy(col("node"))
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
             |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
             |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |e AS MATERIALIZED (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
             |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
             |deg AS (
             |  SELECT node, COUNT(*) AS deg
             |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY node),
             |t AS (
             |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
             |  FROM e e1 JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |tc AS (
             |  SELECT node, COUNT(*) AS tri
             |  FROM (SELECT u AS node FROM t
             |        UNION ALL SELECT v FROM t
             |        UNION ALL SELECT w FROM t)
             |  GROUP BY node)
             |SELECT d.node, d.deg, COALESCE(tc.tri, 0) AS tri,
             |  CAST(CASE WHEN d.deg >= 2
             |    THEN (CAST(COALESCE(tc.tri, 0) AS HUGEINT) * 2000000)
             |         // (CAST(d.deg AS HUGEINT) * (d.deg - 1))
             |    ELSE 0 END AS BIGINT) AS lcc_ppm
             |FROM deg d LEFT JOIN tc ON d.node = tc.node
             |ORDER BY d.node""".stripMargin),
    ),

    // HARMONIC centrality on the host link graph — the DISTANCE-based
    // centrality tier closing the centrality triptych (eigen: q172/q188/
    // q197; cohesion: q139/q220; distance: this). All hosts as seeds =
    // the exact hop-4-bounded value (on a 100 TB link graph, seeds are a
    // deterministic sample and the estimate scales by N/|seeds| — the
    // operator contract); labeled multi-source BFS advances every seed
    // in the SAME per-round join. Integer ppm contributions (10^6 div d)
    // — disconnected hosts contribute 0, never poison an average.
    QueryDef(
      "q307_harmonic_centrality",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.harmonicCentrality(g, g.select(col("src")).distinct(), rounds = 4)
          .select(col("node").as("host"), col("harmonic_ppm"), col("n_reached"))
          .orderBy(col("host"))
      },
      Some(hostBfs4Sql +
        """
          |SELECT node AS host,
          |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_ppm,
          |  COUNT(*)::BIGINT AS n_reached
          |FROM h4 WHERE d >= 1 GROUP BY node ORDER BY host""".stripMargin),
    ),

    // INCREMENTAL k-core peel (q148's maintained form — the density
    // tier's entry in the incremental family: CC q164, LPA q253, PR
    // q304, triangles q306): survivor degrees after 3 peels at k=2 over
    // the near-dup graph, maintained through a delta wave by re-peeling
    // only the delta's 2R-hop ball (Graphs.incrementalKCorePeel — edges
    // at distance ≥ R from a delta endpoint keep their base survival
    // VERBATIM; the peel recurrence replays on the ball-induced
    // subgraph, and the corruption margin of the 2R boundary never
    // reaches a taken edge). Edge additions only RESCUE nodes from
    // peeling, so the nightly dup-graph maintenance touches the delta's
    // neighborhood. The oracle is ONE-SHOT chained peels over ALL pairs
    // (q148's CTE ladder at k=2), so a pass proves incremental ≡
    // recompute; IncrementalKCoreSpec adds random-wave, rescue-cascade
    // (survival flips R−1 hops from the delta), new-node, and dag-cycle
    // cases.
    QueryDef(
      "q308_incremental_kcore",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = PinnedCache.pin(
          pairs.where((col("a") + col("b")) % 3 =!= 0))
        val delta = pairs.where((col("a") + col("b")) % 3 === 0)
        Graphs.incrementalKCorePeel(
            Graphs.kCorePeelEdges(base, k = 2, rounds = 3), base, delta,
            k = 2, rounds = 3)
          .orderBy(col("node"))
      },
      Some({
        val roundCtes = (1 to 3).map { r =>
          s"""k$r AS MATERIALIZED (
             |  SELECT node FROM (SELECT a AS node FROM e${r - 1}
             |                    UNION ALL SELECT b FROM e${r - 1})
             |  GROUP BY node HAVING COUNT(*) >= 2),
             |e$r AS MATERIALIZED (
             |  SELECT a, b FROM e${r - 1}
             |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e0 AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |$roundCtes
           |SELECT node, COUNT(*) AS deg
           |FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
           |GROUP BY node ORDER BY node""".stripMargin
      }),
    ),

    // Hop-distance HISTOGRAM + effective diameter on the host link graph
    // (q307's labeled-BFS substrate, read as a distribution instead of a
    // per-node score): per d in 1..4, how many (seed, node) pairs sit at
    // exactly d hops, with exact-integer cumulative ppm — the smallest d
    // with cum_ppm >= 900000 IS the 90th-percentile effective diameter,
    // the crawl-graph health number (shrinking diameter = densifying
    // link spam; growing = fragmenting crawl). All hosts as seeds =
    // exact; at 100 TB the seed sample is the knob (the exact primitive
    // ANF/HyperANF sketches approximate). The cumulative window runs
    // over a <= 4-row frame — model state, never data-sized.
    QueryDef(
      "q309_distance_histogram",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.distanceHistogram(g, g.select(col("src")).distinct(), rounds = 4)
          .orderBy(col("d"))
      },
      Some(hostBfs4Sql +
        """,
          |hist AS (
          |  SELECT CAST(d AS BIGINT) AS d, COUNT(*)::BIGINT AS n_pairs
          |  FROM h4 WHERE d >= 1 GROUP BY d)
          |SELECT d, n_pairs,
          |  CAST(SUM(n_pairs) OVER (ORDER BY d) AS BIGINT) AS cum_pairs,
          |  (CAST(SUM(n_pairs) OVER (ORDER BY d) AS BIGINT) * 1000000)
          |    // CAST((SELECT SUM(n_pairs) FROM hist) AS BIGINT) AS cum_ppm
          |FROM hist ORDER BY d""".stripMargin),
    ),

    // INCREMENTAL HITS (q197's maintained form — the eigen tier's SECOND
    // maintained operator, completing the incremental family: CC q164,
    // LPA q253, PR q304, triangles q306, k-core q308, HITS this): hub/
    // authority ranks over the DIRECTED near-dup pair graph (a_id → b_id,
    // a < b), maintained through a delta wave by replaying the recurrence
    // only on the delta's (4R−2)-hop neighborhood with the base run's
    // STORED rescale maxes as divisors (Graphs.incrementalHits). The
    // globality guard: HITS divides every half-step by a GLOBAL max, so
    // the incremental path runs only when ball-local evidence plus the
    // (max, n_attainers) trace PROVES the max unchanged — otherwise batch
    // fallback (exactness over cleverness, q304's new-src discipline).
    // Unlike PageRank there is no 1/N teleport, so new nodes are local
    // and need no guard. The oracle is ONE-SHOT batch HITS over ALL
    // pairs, so a pass proves incremental ≡ recompute; IncrementalHitsSpec
    // adds random-wave/boundary/fallback-poison/dag-cycle cases.
    QueryDef(
      "q310_incremental_hits",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("src"), col("b_id").as("dst")))
        val isBase = (col("src") + col("dst")) % 3 =!= 0
        val base = PinnedCache.pin(pairs.where(isBase))
        val delta = pairs.where(!isBase)
        val (prevRanks, trace) = Graphs.integerHitsTrace(base, iters = 3)
        Graphs.incrementalHits(prevRanks, trace, base, delta, iters = 3)
          .orderBy(col("node"))
      },
      Some({
        val iterCte = (1 to 3).map(i =>
          s"""a${i}r AS (
             |  SELECT e.b AS node, CAST(SUM(h.h) AS BIGINT) AS a
             |  FROM h${i - 1} h JOIN e ON e.a = h.node GROUP BY e.b),
             |a$i AS MATERIALIZED (
             |  SELECT node, (a * 1000000) // (SELECT MAX(a) FROM a${i}r) AS a
             |  FROM a${i}r),
             |h${i}r AS (
             |  SELECT e.a AS node, CAST(SUM(x.a) AS BIGINT) AS h
             |  FROM a$i x JOIN e ON e.b = x.node GROUP BY e.a),
             |h$i AS MATERIALIZED (
             |  SELECT node, (h * 1000000) // (SELECT MAX(h) FROM h${i}r) AS h
             |  FROM h${i}r)""".stripMargin).mkString(",\n")
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |h0 AS (SELECT DISTINCT a AS node, CAST(1000000 AS BIGINT) AS h FROM e),
           |$iterCte
           |SELECT COALESCE(h.node, a.node) AS node,
           |  COALESCE(h.h, 0)::BIGINT AS hub, COALESCE(a.a, 0)::BIGINT AS auth
           |FROM h3 h FULL OUTER JOIN a3 a ON h.node = a.node
           |ORDER BY node""".stripMargin
      }),
    ),

    // INCREMENTAL harmonic centrality (q307's maintained form — the
    // DISTANCE tier joins the incremental family: CC q164, LPA q253, PR
    // q304, triangles q306, k-core q308, HITS q310, distances this): the
    // settled (seed, node, d) labeled-BFS state over the host link graph,
    // maintained through an additive edge wave by relaxing ONLY improving
    // pairs (Graphs.incrementalLabeledBfs — injection relaxes each delta
    // edge once from the base-settled state; Bellman-Ford-on-improvements
    // converges in ≤ R iterations because distances only decrease and
    // improving paths have ≤ R hops; unimproved pairs pass through
    // VERBATIM). Additions can only shorten distances, so the nightly
    // crawl-growth maintenance touches the improvement region, not the
    // pair universe. The oracle is the ONE-SHOT all-hosts labeled BFS
    // over ALL edges (q307's exact SQL), so a pass proves incremental ≡
    // recompute; IncrementalLabeledBfsSpec adds shortcut-cascade,
    // chained-delta, reachability-flip, and dag-cycle cases.
    QueryDef(
      "q311_incremental_harmonic",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val seeds = g.select(col("src")).distinct()
        val isBase = pmod(hash(col("src"), col("dst")), lit(5)) =!= 0
        val base = PinnedCache.pin(g.where(isBase))
        val delta = g.where(!isBase)
        val prev = Graphs.multiSourceBfs(base, seeds, rounds = 4)
        Graphs.incrementalLabeledBfs(prev, base, delta, rounds = 4)
          .where(col("d") >= 1L)
          .groupBy(col("node"))
          .agg(sum(expr("cast(1000000 as bigint) div d")).as("harmonic_ppm"),
            count(lit(1)).as("n_reached"))
          .select(col("node").as("host"), col("harmonic_ppm"), col("n_reached"))
          .orderBy(col("host"))
      },
      Some(hostBfs4Sql +
        """
          |SELECT node AS host,
          |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_ppm,
          |  COUNT(*)::BIGINT AS n_reached
          |FROM h4 WHERE d >= 1 GROUP BY node ORDER BY host""".stripMargin),
    ),

    // Seed-sampled BETWEENNESS centrality on the host link graph — the
    // PATH-VOLUME tier completing the centrality stack (eigen q172/q188,
    // distance q307, cohesion q220): how much shortest-path traffic from
    // the trusted hub seeds flows THROUGH each host — the chokepoint /
    // traffic-broker readout a crawl curator reads next to authority and
    // closeness. Exact-integer Brandes, hop-4-bounded (the q307
    // truncation contract): forward labeled BFS with exact path COUNTS
    // (settled/frontier split), then the per-level dependency ladder
    //   δ'(v) = Σ_{v→w, level+1} (σ(v)·(10⁶+δ'(w))) div σ(w)
    // in ppm fixed point — floor per term, summed over a set, so both
    // engines replay it bit-for-bit. Seed sampling is the textbook
    // estimator (2 trusted hubs here; a deterministic sample at 100 TB).
    QueryDef(
      "q312_betweenness_centrality",
      (s, dir) => {
        import s.implicits._
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.betweennessCentrality(g, SeedHosts.toDF("seed"), rounds = 4)
          .select(col("node").as("host"), col("bc_ppm"), col("n_seeds_through"))
          .orderBy(col("host"))
      },
      Some(hostBetweenness4Sql),
    ),

    // MODULARITY of the LPA communities (q183's assignment, scored): the
    // quality readout that closes the community tier — per community,
    // Newman Q_c = e_c/m − (deg_c/2m)² in integer ppm (one floor
    // division per community, dividend shifted non-negative so Spark
    // `div` ≡ DuckDB `//` — Graphs.modularityByCommunity documents the
    // trunc-vs-floor hazard and the +4m²·10⁶ shift). A curator reads
    // this next to the assignment itself: high-Q communities are real
    // mesoscale structure worth stratifying by; near-zero/negative ones
    // are noise. The oracle replays q183's LPA CTE ladder verbatim and
    // scores it with the identical shifted division.
    QueryDef(
      "q313_modularity",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = PinnedCache.pin(Graphs.basketPairs(li))
        // rounds = 2: the 3-round assignment collapses this dense graph to
        // ~3 giant communities (a 3-row readout); 2 rounds keep ~40 — the
        // mesoscale grain a curator actually scores
        Graphs.modularityByCommunity(edges,
            Graphs.labelPropagation(edges, rounds = 2, canonicalInput = true))
          .orderBy(col("label"))
      },
      Some({
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)},
           |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
           |m AS (SELECT COUNT(*) AS m FROM e),
           |bylab AS (
           |  SELECT l2.lab, COUNT(*) AS n_nodes, SUM(deg.deg) AS deg_sum
           |  FROM deg JOIN l2 ON l2.node = deg.node GROUP BY l2.lab),
           |intra AS (
           |  SELECT la.lab, COUNT(*) AS intra_edges
           |  FROM e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
           |  WHERE la.lab = lb.lab GROUP BY la.lab)
           |SELECT b.lab AS label, CAST(b.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(b.deg_sum AS BIGINT) AS deg_sum,
           |  CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           |  CAST((1000000*(4*CAST(m.m AS HUGEINT)*COALESCE(i.intra_edges, 0)
           |                 - CAST(b.deg_sum AS HUGEINT)*b.deg_sum)
           |        + 4000000*CAST(m.m AS HUGEINT)*m.m)
           |       // (4*CAST(m.m AS HUGEINT)*m.m) - 1000000 AS BIGINT) AS q_ppm
           |FROM bylab b LEFT JOIN intra i ON i.lab = b.lab, m
           |ORDER BY label""".stripMargin
      }),
    ),

    // DETERMINISTIC random-walk corpus over the host link graph — the
    // DeepWalk/node2vec training-data generator (graph-embedding walks
    // are a first-class training-data product, same as packed token
    // sequences): 2 walks × 4 hops from every host, hop choice = a pure
    // hash of (origin, walk, step, cur) mod degree
    // (Graphs.randomWalks), so the corpus is bit-reproducible with NO
    // RNG state and the oracle replays every trajectory as a 4-CTE
    // ladder over the same ROW_NUMBER-indexed adjacency. Per hop the
    // engine joins |walks| rows against the indexed adjacency — never a
    // neighbor-list materialization, embarrassingly parallel over walks
    // at any scale.
    QueryDef(
      "q314_random_walks",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.randomWalks(g, g.select(col("src").as("origin")).distinct(),
            walksPerNode = 2, steps = 4)
          .select(col("origin"), col("walk"), col("step"), col("node"))
          .orderBy(col("origin"), col("walk"), col("step"))
      },
      Some(hostWalkCorpusSql +
        "\nSELECT origin, walk, step, node FROM corpus ORDER BY origin, walk, step"),
    ),

    // DETERMINISTIC node2vec walks over the host link graph — the
    // SECOND-ORDER walk corpus (q314's biased sibling): return weight
    // 250 (p=4, discourage backtracking), common-neighbor 1000, in-out
    // 500 (q=2, mild DFS lean) in milli-units; the hop lands where the
    // walk-coordinate hash falls in the neighbor's cumulative-weight
    // slot (Graphs.node2vecWalks). Step 1 is uniform (no predecessor).
    // The oracle replays fan-out, prev-adjacency test, cumulative
    // window, and slot pick bit-for-bit as a 4-CTE ladder.
    QueryDef(
      "q317_node2vec_walks",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.node2vecWalks(g, g.select(col("src").as("origin")).distinct(),
            walksPerNode = 2, steps = 4, retW = 250, comW = 1000, outW = 500)
          .select(col("origin"), col("walk"), col("step"), col("node"))
          .orderBy(col("origin"), col("walk"), col("step"))
      },
      Some({
        val h = (stepLit: String) =>
          "CAST(('0x' || substring(md5(origin||':'||CAST(walk AS VARCHAR)" +
            s"||':'||$stepLit||':'||cur),1,15)) AS BIGINT)"
        val hop = (i: Int) => {
          val wt =
            if (i == 1) "1"
            else
              """CASE WHEN adj.dst = w.prev THEN 250
                |         WHEN EXISTS (SELECT 1 FROM sym x
                |                      WHERE x.src = w.prev AND x.dst = adj.dst)
                |         THEN 1000 ELSE 500 END""".stripMargin
          s"""c$i AS MATERIALIZED (
             |  SELECT w.origin, w.walk, w.prev, w.cur, adj.dst, $wt AS wt
             |  FROM w${i - 1} w JOIN sym adj ON adj.src = w.cur),
             |w$i AS MATERIALIZED (
             |  SELECT origin, walk, cur AS prev, dst AS cur FROM (
             |    SELECT *, SUM(wt) OVER (PARTITION BY origin, walk ORDER BY dst) AS cum,
             |      SUM(wt) OVER (PARTITION BY origin, walk) AS tot
             |    FROM c$i) z
             |  WHERE (${h(s"'$i'")}) % tot >= cum - wt
             |    AND (${h(s"'$i'")}) % tot < cum)""".stripMargin
        }
        val readout = (0 to 4).map(i =>
          s"SELECT origin, CAST(walk AS BIGINT) AS walk, CAST($i AS BIGINT) AS step, cur AS node FROM w$i")
          .mkString("\nUNION ALL\n")
        hostGraphSql +
          s""",
             |w0 AS (SELECT src AS origin, w AS walk, src AS prev, src AS cur
             |       FROM (SELECT DISTINCT src FROM sym),
             |            unnest(generate_series(0, 1)) t(w)),
             |${(1 to 4).map(hop).mkString(",\n")}
             |$readout
             |ORDER BY origin, walk, step""".stripMargin
      }),
    ),

    // Integer KATZ centrality on the host link graph — the eigen tier's
    // attenuated-walk member next to PageRank (q172, degree-normalized)
    // and HITS (q197, max-rescaled): every incoming walk counts,
    // geometrically damped by length (α = 1/8), so high-in-degree hubs
    // AND hubs-of-hubs both surface without the PR deg-division or the
    // HITS global rescale. Fixed 4 iterations, one floor per node per
    // round (Graphs.integerKatz); the oracle replays the recurrence as
    // 4 chained CTEs.
    QueryDef(
      "q322_katz_centrality",
      (s, dir) => Graphs.integerKatz(hostLinkGraph(s, dir), iters = 4)
        .select(col("node").as("host"), col("r").as("katz"))
        .orderBy(col("host")),
      Some({
        val rounds = (1 to 4).map(i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT n.node, 1000000 + COALESCE(x.s, 0) // 8 AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT sym.dst AS node, SUM(r${i - 1}.r) AS s
             |    FROM r${i - 1} JOIN sym ON sym.src = r${i - 1}.node
             |    GROUP BY sym.dst) x ON x.node = n.node)""".stripMargin)
          .mkString(",\n")
        hostGraphSql +
          s""",
             |nodes AS (SELECT DISTINCT src AS node FROM sym),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
             |$rounds
             |SELECT node AS host, CAST(r AS BIGINT) AS katz
             |FROM r4 ORDER BY host""".stripMargin
      }),
    ),

    // INCREMENTAL Katz (q322's maintained form — the eigen tier's
    // CLEANEST incremental member, completing the family: CC q164, LPA
    // q253, PR q304, triangles q306, k-core q308, HITS q310, distances
    // q311, modularity q318, Katz this): no 1/N, no global rescale —
    // a new edge's influence enters at its dst and travels one hop per
    // iteration, so nodes beyond the (iters−1)-forward ball keep base
    // rank VERBATIM and the recurrence replays only over edges into
    // the ball, reading boundary inputs from the stored base
    // TRAJECTORY (Graphs.incrementalKatz). The oracle is the ONE-SHOT
    // batch Katz over ALL edges (q322's SQL), so a pass proves
    // maintained ≡ recompute; IncrementalKatzSpec adds poison-verbatim,
    // exact-radius, and new-node cases.
    QueryDef(
      "q323_incremental_katz",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val isBase = pmod(hash(col("src"), col("dst")), lit(5)) =!= 0
        val base = PinnedCache.pin(g.where(isBase))
        val delta = g.where(!isBase)
        Graphs.incrementalKatz(
            Graphs.integerKatzTrace(base, iters = 4), base, delta, iters = 4)
          .select(col("node").as("host"), col("r").as("katz"))
          .orderBy(col("host"))
      },
      Some({
        val rounds = (1 to 4).map(i =>
          s"""r$i AS MATERIALIZED (
             |  SELECT n.node, 1000000 + COALESCE(x.s, 0) // 8 AS r
             |  FROM nodes n LEFT JOIN (
             |    SELECT sym.dst AS node, SUM(r${i - 1}.r) AS s
             |    FROM r${i - 1} JOIN sym ON sym.src = r${i - 1}.node
             |    GROUP BY sym.dst) x ON x.node = n.node)""".stripMargin)
          .mkString(",\n")
        hostGraphSql +
          s""",
             |nodes AS (SELECT DISTINCT src AS node FROM sym),
             |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
             |$rounds
             |SELECT node AS host, CAST(r AS BIGINT) AS katz
             |FROM r4 ORDER BY host""".stripMargin
      }),
    ),

    // INCREMENTAL modularity (q313's maintained form — the QUALITY
    // readout joins the incremental family: CC q164, LPA q253, PR q304,
    // triangles q306, k-core q308, HITS q310, distances q311) on the
    // near-dup graph nightly workload: labels maintained by
    // incrementalLabelPropagation (q253, proven ≡ batch), stats
    // recounted ONLY for communities touched by relabeling or delta
    // edges, every other community's (n_nodes, deg_sum, intra_edges)
    // passing through VERBATIM; the global edge total m re-scales
    // q_ppm for all rows as a broadcast-scalar map (the q304 1/N
    // globality shape — documented at Graphs.incrementalModularity).
    // The oracle is the ONE-SHOT batch modularity over ALL pairs with
    // batch-LPA labels, so a pass proves maintained ≡ recompute;
    // IncrementalModularitySpec adds poison-verbatim, label-migration,
    // new-node, and m-globality cases.
    QueryDef(
      "q318_incremental_modularity",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = PinnedCache.pin(pairs.where((col("a") + col("b")) % 2 === 0))
        val delta = pairs.where((col("a") + col("b")) % 2 === 1)
        val prevLabels = Graphs.labelPropagation(base, rounds = 2, canonicalInput = true)
        val newLabels = Graphs.incrementalLabelPropagation(
          prevLabels, base, delta, rounds = 2)
        Graphs.incrementalModularity(
            Graphs.modularityByCommunity(base, prevLabels),
            prevLabels, newLabels, base, delta, lpaRounds = 2)
          .orderBy(col("label"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)},
           |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
           |m AS (SELECT COUNT(*) AS m FROM e),
           |bylab AS (
           |  SELECT l2.lab, COUNT(*) AS n_nodes, SUM(deg.deg) AS deg_sum
           |  FROM deg JOIN l2 ON l2.node = deg.node GROUP BY l2.lab),
           |intra AS (
           |  SELECT la.lab, COUNT(*) AS intra_edges
           |  FROM e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
           |  WHERE la.lab = lb.lab GROUP BY la.lab)
           |SELECT b.lab AS label, CAST(b.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(b.deg_sum AS BIGINT) AS deg_sum,
           |  CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
           |  CAST((1000000*(4*CAST(m.m AS HUGEINT)*COALESCE(i.intra_edges, 0)
           |                 - CAST(b.deg_sum AS HUGEINT)*b.deg_sum)
           |        + 4000000*CAST(m.m AS HUGEINT)*m.m)
           |       // (4*CAST(m.m AS HUGEINT)*m.m) - 1000000 AS BIGINT) AS q_ppm
           |FROM bylab b LEFT JOIN intra i ON i.lab = b.lab, m
           |ORDER BY label""".stripMargin
      }),
    ),

    // CONDUCTANCE of the q313 communities — the SECOND standard
    // community-quality readout, answering the question modularity
    // doesn't: not "is the inside denser than chance" but "how LEAKY
    // is the boundary" — φ(c) = cut/min(vol, 2m−vol) in exact integer
    // ppm, one non-negative floor division per community
    // (Graphs.conductanceByCommunity). Same co-purchase graph and
    // 2-round LPA labels as q313, so a curator reads Q and φ side by
    // side; the oracle replays the LPA ladder and the boundary
    // rollups.
    QueryDef(
      "q337_conductance",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = PinnedCache.pin(Graphs.basketPairs(li))
        Graphs.conductanceByCommunity(edges,
            Graphs.labelPropagation(edges, rounds = 2, canonicalInput = true))
          .orderBy(col("label"))
      },
      Some({
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)},
           |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
           |m AS (SELECT COUNT(*) AS m FROM e),
           |bylab AS (
           |  SELECT l2.lab, COUNT(*) AS n_nodes, SUM(deg.deg) AS vol
           |  FROM deg JOIN l2 ON l2.node = deg.node GROUP BY l2.lab),
           |sided AS (
           |  SELECT la.lab AS la, lb.lab AS lb
           |  FROM e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
           |  WHERE la.lab <> lb.lab),
           |cut AS (
           |  SELECT lab, COUNT(*) AS cut FROM (
           |    SELECT la AS lab FROM sided UNION ALL SELECT lb FROM sided)
           |  GROUP BY lab)
           |SELECT b.lab AS label, CAST(b.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(b.vol AS BIGINT) AS vol,
           |  CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
           |  CAST((CAST(COALESCE(c.cut, 0) AS HUGEINT) * 1000000)
           |       // LEAST(b.vol, 2 * m.m - b.vol) AS BIGINT) AS phi_ppm
           |FROM bylab b LEFT JOIN cut c ON c.lab = b.lab, m
           |ORDER BY label""".stripMargin
      }),
    ),

    // INCREMENTAL conductance (q337's maintained form — the FOURTEENTH
    // maintained member, twin to q318 over the boundary readout): on
    // the near-dup nightly workload, labels maintained by
    // incrementalLabelPropagation (q253, proven ≡ batch), stats
    // (n_nodes, vol, cut) recounted ONLY for communities touched by
    // relabeling or delta edges, every other community passing through
    // VERBATIM; the global m re-scales phi for all rows as a
    // broadcast-scalar map (the q304/q318 globality shape). The oracle
    // is the ONE-SHOT batch conductance over ALL pairs with batch-LPA
    // labels; IncrementalConductanceSpec adds poison-verbatim,
    // m-globality, and third-community cut-precision cases.
    QueryDef(
      "q338_incremental_conductance",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = PinnedCache.pin(pairs.where((col("a") + col("b")) % 2 === 0))
        val delta = pairs.where((col("a") + col("b")) % 2 === 1)
        val prevLabels = Graphs.labelPropagation(base, rounds = 2, canonicalInput = true)
        val newLabels = Graphs.incrementalLabelPropagation(
          prevLabels, base, delta, rounds = 2)
        Graphs.incrementalConductance(
            Graphs.conductanceByCommunity(base, prevLabels),
            prevLabels, newLabels, base, delta, lpaRounds = 2)
          .orderBy(col("label"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |sym AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(2)},
           |deg AS (SELECT a AS node, COUNT(*) AS deg FROM sym GROUP BY a),
           |m AS (SELECT COUNT(*) AS m FROM e),
           |bylab AS (
           |  SELECT l2.lab, COUNT(*) AS n_nodes, SUM(deg.deg) AS vol
           |  FROM deg JOIN l2 ON l2.node = deg.node GROUP BY l2.lab),
           |sided AS (
           |  SELECT la.lab AS la, lb.lab AS lb
           |  FROM e JOIN l2 la ON la.node = e.a JOIN l2 lb ON lb.node = e.b
           |  WHERE la.lab <> lb.lab),
           |cut AS (
           |  SELECT lab, COUNT(*) AS cut FROM (
           |    SELECT la AS lab FROM sided UNION ALL SELECT lb FROM sided)
           |  GROUP BY lab)
           |SELECT b.lab AS label, CAST(b.n_nodes AS BIGINT) AS n_nodes,
           |  CAST(b.vol AS BIGINT) AS vol,
           |  CAST(COALESCE(c.cut, 0) AS BIGINT) AS cut,
           |  CAST((CAST(COALESCE(c.cut, 0) AS HUGEINT) * 1000000)
           |       // LEAST(b.vol, 2 * m.m - b.vol) AS BIGINT) AS phi_ppm
           |FROM bylab b LEFT JOIN cut c ON c.lab = b.lab, m
           |ORDER BY label""".stripMargin
      }),
    ),

    // INCREMENTAL betweenness (q312's maintained form — the TENTH
    // maintained member, completing the centrality tier: CC q164, LPA
    // q253, PR q304, triangles q306, k-core q308, HITS q310, distances
    // q311, modularity q318, Katz q323, betweenness this): hop-≤R
    // Brandes is a plain PER-SEED sum over each seed's forward BFS DAG
    // — no 1/N, no max-rescale, no global coupling — and a delta edge
    // (u, v) is visible to seed s's DAG iff s reaches u within R−1
    // hops in the union graph (only then can it shorten a distance,
    // add a parallel shortest path that raises σ, or enter the
    // dependency ladder). So the maintained form recomputes ONLY the
    // seeds in the reverse (R−1)-ball of the delta srcs and passes
    // every other seed's stored (seed, node, δ') trace rows through
    // VERBATIM (Graphs.incrementalBetweenness). The oracle is the
    // ONE-SHOT batch Brandes over ALL edges (q312's SQL), so a pass
    // proves maintained ≡ recompute; IncrementalBetweennessSpec adds
    // chained-wave, ball-boundary-poison, σ-only-delta, dag-cycle, and
    // isolated-seed cases.
    QueryDef(
      "q324_incremental_betweenness",
      (s, dir) => {
        import s.implicits._
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val seeds = SeedHosts.toDF("seed")
        val isBase = pmod(hash(col("src"), col("dst")), lit(5)) =!= 0
        val base = PinnedCache.pin(g.where(isBase))
        val delta = g.where(!isBase)
        Graphs.incrementalBetweenness(
            Graphs.betweennessTrace(base, seeds, rounds = 4),
            base, delta, seeds, rounds = 4)
          .select(col("node").as("host"), col("bc_ppm"), col("n_seeds_through"))
          .orderBy(col("host"))
      },
      Some(hostBetweenness4Sql),
    ),

    // SKIP-GRAM pair counts over the q314 walk corpus — the word2vec
    // training table DeepWalk actually trains on (the walk corpus is
    // the intermediate; THIS is the training-data product): for every
    // walk, every node pair within 2 steps of each other contributes
    // one (center, context) observation (Graphs.skipGramPairs — one
    // offset explode + one exact-key self-join + one combinable count,
    // no range residual). The oracle replays the corpus CTE (shared
    // with q314) and a |step-distance| self-join.
    QueryDef(
      "q325_skipgram_pairs",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.skipGramPairs(
            Graphs.randomWalks(g, g.select(col("src").as("origin")).distinct(),
              walksPerNode = 2, steps = 4),
            window = 2)
          .orderBy(col("center"), col("context"))
      },
      Some(hostWalkCorpusSql +
        """
          |SELECT a.node AS center, b.node AS context,
          |  COUNT(*)::BIGINT AS cnt
          |FROM corpus a JOIN corpus b
          |  ON a.origin = b.origin AND a.walk = b.walk
          | AND abs(a.step - b.step) BETWEEN 1 AND 2
          |GROUP BY 1, 2 ORDER BY center, context""".stripMargin),
    ),

    // INCREMENTAL walk corpus (q314's maintained form — the ELEVENTH
    // maintained member, and the first over a training-data PRODUCT
    // rather than a statistic): a deterministic hash walk re-reads
    // only the out-adjacency of nodes it stands on, so an additive
    // edge wave touches exactly the walks that visit a delta SRC at a
    // hop step — those origins re-walk on the union graph, every other
    // origin's corpus rows pass through VERBATIM
    // (Graphs.incrementalRandomWalks). The oracle is the ONE-SHOT
    // corpus over ALL edges (q314's shared CTE), so a pass proves
    // maintained ≡ recompute; IncrementalRandomWalksSpec adds poison-
    // verbatim, sink-unsinking, and dst-only-precision cases.
    QueryDef(
      "q328_incremental_walks",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val isBase = pmod(hash(col("src"), col("dst")), lit(5)) =!= 0
        val base = PinnedCache.pin(g.where(isBase))
        val delta = g.where(!isBase)
        val origins = g.select(col("src").as("origin")).distinct()
        Graphs.incrementalRandomWalks(
            Graphs.randomWalks(base, origins, walksPerNode = 2, steps = 4),
            base, delta, walksPerNode = 2, steps = 4)
          .orderBy(col("origin"), col("walk"), col("step"))
      },
      Some(hostWalkCorpusSql +
        "\nSELECT origin, walk, step, node FROM corpus ORDER BY origin, walk, step"),
    ),

    // k-TRUSS of the near-duplicate pair graph — the EDGE-level
    // cohesion readout completing the node-level tier (k-core q186,
    // triangles q139/q220): 2 peel rounds of "drop edges in fewer than
    // k−2 triangles" at k = 3, support counted from each edge's
    // LOWER-degree endpoint (the arboricity-bounded wedge join —
    // Graphs.kTrussEdges). On the dup graph this is the CLUSTER-CORE
    // detector a curator wants: true duplicate groups are near-cliques
    // whose edges all carry triangle support, while a spurious
    // borderline-jaccard pair linking two unrelated groups sits in no
    // triangle and is peeled — canonical-selection then runs on the
    // truss, not the raw pair list. Oracle: q318's shingle-jaccard
    // pair CTE + per-round common-neighbor recount + the
    // final-subgraph support readout.
    QueryDef(
      "q326_ktruss",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        Graphs.kTrussEdges(pairs, k = 3, rounds = 2)
          .orderBy(col("a"), col("b"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e0 AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |s0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
           |${trussRounds(2)}
           |SELECT e.a, e.b,
           |  (SELECT COUNT(*) FROM s2 x JOIN s2 y ON x.b = y.b
           |   WHERE x.a = e.a AND y.a = e.b)::BIGINT AS support
           |FROM e2 e ORDER BY a, b""".stripMargin
      }),
    ),

    // INCREMENTAL k-truss (q326's maintained form — the TWELFTH
    // maintained member, the edge-cohesion one): membership divergence
    // spreads at most one node-hop per peel round from the delta
    // endpoints, so the maintained replay recomputes only edges with
    // an endpoint inside the (R+1)-ball, reads each round's
    // out-of-ball survivor context from the stored peel TRAJECTORY
    // (Graphs.kTrussTrace — the q323 trajectory-replay convention),
    // and passes the stored final (a, b, support) rows outside the
    // ball through VERBATIM (Graphs.incrementalKTruss). The oracle is
    // the ONE-SHOT batch truss over ALL pairs (q326's SQL), so a pass
    // proves maintained ≡ recompute; IncrementalKTrussSpec adds
    // phantom-edge poison, resurrection-cascade, and distance-
    // precision cases.
    QueryDef(
      "q329_incremental_ktruss",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val isBase = pmod(hash(col("a"), col("b")), lit(5)) =!= 0
        val base = PinnedCache.pin(pairs.where(isBase))
        val delta = pairs.where(!isBase)
        // ONE batch peel: the stored trajectory and the stored final
        // readout both derive from the same kTrussTrace run (they are
        // deterministic functions of it) — before r15 this paid the
        // full-graph peel twice (kTrussEdges re-ran the trace internally)
        val trace = PinnedCache.pin(Graphs.kTrussTrace(base, k = 3, rounds = 2))
        Graphs.incrementalKTruss(
            trace,
            Graphs.kTrussEdgesFromTrace(trace, rounds = 2),
            base, delta, k = 3, rounds = 2)
          .orderBy(col("a"), col("b"))
      },
      Some({
        s"""WITH sh AS (
           |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
           |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
           |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
           |  WHERE len(toks) >= 3),
           |e0 AS MATERIALIZED (
           |  SELECT a.doc_id AS a, b.doc_id AS b
           |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
           |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
           |s0 AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
           |${trussRounds(2)}
           |SELECT e.a, e.b,
           |  (SELECT COUNT(*) FROM s2 x JOIN s2 y ON x.b = y.b
           |   WHERE x.a = e.a AND y.a = e.b)::BIGINT AS support
           |FROM e2 e ORDER BY a, b""".stripMargin
      }),
    ),

    // EDGE betweenness on the host link graph — the per-LINK sibling
    // of q312 and the Girvan–Newman splitting signal: the top edge is
    // the bridge whose removal best separates link communities, the
    // chokepoint-LINK readout a crawl curator reads next to the
    // chokepoint-node one. Same exact-integer Brandes ladder, hop-4,
    // seed-sampled; per level the per-edge floor-div term is captured
    // BEFORE its per-node rollup, including the seeds' own level-0
    // out-edges (Graphs.edgeBetweenness; EdgeBetweennessSpec pins the
    // node-consistency invariant). The oracle replays the ladder with
    // per-edge term CTEs.
    QueryDef(
      "q334_edge_betweenness",
      (s, dir) => {
        import s.implicits._
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        Graphs.edgeBetweenness(g, SeedHosts.toDF("seed"), rounds = 4)
          .orderBy(col("src"), col("dst"))
      },
      Some(hostEdgeBetweennessSql +
        "\nSELECT src, dst, ebc_ppm, n_seeds_through FROM ebc ORDER BY src, dst"),
    ),

    // INCREMENTAL edge betweenness (q334's maintained form — the
    // THIRTEENTH maintained member, closing the betweenness pair with
    // q324): per-link values are a plain per-seed sum over each seed's
    // forward DAG, so the q324 reverse-(R−1)-ball seed pruning
    // transfers verbatim — affected seeds recompute, every other
    // seed's stored (seed, edge, term) rows pass through
    // (Graphs.incrementalEdgeBetweenness). Oracle = q334's one-shot
    // SQL; IncrementalEdgeBetweennessSpec adds poison-verbatim and the
    // maintained-node cross-consistency invariant.
    QueryDef(
      "q336_incremental_edge_betweenness",
      (s, dir) => {
        import s.implicits._
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val seeds = SeedHosts.toDF("seed")
        val isBase = pmod(hash(col("src"), col("dst")), lit(5)) =!= 0
        val base = PinnedCache.pin(g.where(isBase))
        val delta = g.where(!isBase)
        Graphs.incrementalEdgeBetweenness(
            Graphs.edgeBetweennessTrace(base, seeds, rounds = 4),
            base, delta, seeds, rounds = 4)
          .orderBy(col("src"), col("dst"))
      },
      Some(hostEdgeBetweennessSql +
        "\nSELECT src, dst, ebc_ppm, n_seeds_through FROM ebc ORDER BY src, dst"),
    ),

    // GIRVAN–NEWMAN one-split composition — the q334 signal USED: drop
    // the single undirected edge carrying the most shortest-path
    // traffic (directional values summed per pair, ties to the
    // smallest pair) and read the connected components of what
    // remains — does the top bridge actually separate link
    // communities? Composes edgeBetweenness → 1-row broadcast argmax
    // → anti-filter → the q44 min-label CC. The oracle replays the
    // ladder, the argmax, and components via a recursive
    // transitive-closure CTE.
    QueryDef(
      "q335_girvan_newman_split",
      (s, dir) => {
        import s.implicits._
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val und = Graphs.edgeBetweenness(g, SeedHosts.toDF("seed"), rounds = 4)
          .select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"), col("ebc_ppm"))
          .groupBy(col("u"), col("v")).agg(sum(col("ebc_ppm")).as("score"))
        val top = und.orderBy(col("score").desc, col("u"), col("v")).limit(1)
          .select(col("u").as("tu"), col("v").as("tv"))
        val kept = g.crossJoin(broadcast(top))
          .where(!(least(col("src"), col("dst")) === col("tu") &&
            greatest(col("src"), col("dst")) === col("tv")))
          .select(col("src").as("a_id"), col("dst").as("b_id"))
        Dedup.connectedComponents(kept)
          .select(col("id").as("host"), col("root").as("community"))
          .orderBy(col("host"))
      },
      Some("WITH RECURSIVE" + (hostEdgeBetweennessSql +
        """,
          |u2 AS (SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
          |              SUM(ebc_ppm) AS score
          |       FROM ebc GROUP BY 1, 2),
          |top AS (SELECT u, v FROM u2 ORDER BY score DESC, u, v LIMIT 1),
          |kept AS (SELECT src, dst FROM sym
          |         WHERE NOT (LEAST(src, dst) = (SELECT u FROM top)
          |                AND GREATEST(src, dst) = (SELECT v FROM top))),
          |r(id, m) AS (
          |  SELECT src, src FROM kept
          |  UNION
          |  SELECT r.id, k.dst FROM r JOIN kept k ON k.src = r.m)
          |SELECT id AS host, MIN(m) AS community FROM r
          |GROUP BY id ORDER BY host""".stripMargin).stripPrefix("WITH")),
    ),

    // STRONGLY connected components of the goods-flow graph — the
    // DIRECTED component tier (q44/q164's CC is undirected, where SCC
    // is the question that actually needs direction): suppliers ship
    // to customers (s → c for every distinct pair), RETURNED items
    // flow back (c → s where l_returnflag = 'R'), and an SCC is a
    // circular-flow community — the set of parties mutually entangled
    // by shipments and returns (namespaces split 2c / 2s+1, the q132
    // convention). Fixed-round FW-BW coloring with trimming
    // (Graphs.stronglyConnectedComponents): colored removal is GATED
    // on the two closed-form convergence predicates, so a settled
    // group is EXACTLY one true SCC (never a merge or a split);
    // under-budget leftovers come back settled=false. The oracle
    // replays the identical trim/color/backward schedule INCLUDING
    // the gate (the same two NOT EXISTS) — so the check verifies the
    // exact gated semantics, converged or not.
    QueryDef(
      "q333_scc_goods_flow",
      (s, dir) => {
        val oli = tbl(s, dir, "orders").join(tbl(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        val ship = oli.select((col("l_suppkey") * 2 + 1).cast("long").as("src"),
          (col("o_custkey") * 2).cast("long").as("dst")).distinct()
        val ret = oli.where(col("l_returnflag") === "R")
          .select((col("o_custkey") * 2).cast("long").as("src"),
            (col("l_suppkey") * 2 + 1).cast("long").as("dst")).distinct()
        Graphs.stronglyConnectedComponents(
            ship.unionByName(ret), outerRounds = 2, innerRounds = 6)
          .orderBy(col("node"))
      },
      Some({
        val inner = 6
        def fRounds(o: Int) = (1 to inner).map(i =>
          s"""f${o}_$i AS MATERIALIZED (
             |  SELECT f.node, LEAST(f.f, COALESCE(p.pf, f.f)) AS f
             |  FROM f${o}_${i - 1} f LEFT JOIN (
             |    SELECT sub$o.dst AS node, MIN(x.f) AS pf
             |    FROM sub$o JOIN f${o}_${i - 1} x ON x.node = sub$o.src
             |    GROUP BY sub$o.dst) p ON p.node = f.node)""".stripMargin)
          .mkString(",\n")
        def bRounds(o: Int) = (1 to inner).map(j =>
          s"""b${o}_$j AS MATERIALIZED (
             |  SELECT node, f FROM b${o}_${j - 1}
             |  UNION
             |  SELECT fx.node, fx.f
             |  FROM sub$o JOIN b${o}_${j - 1} b ON b.node = sub$o.dst
             |  JOIN f${o}_$inner fx ON fx.node = sub$o.src
             |  WHERE fx.f = b.f)""".stripMargin).mkString(",\n")
        def round(o: Int) =
          s"""sub0_$o AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM e
             |  WHERE e.src IN (SELECT node FROM u$o)
             |    AND e.dst IN (SELECT node FROM u$o)),
             |triv_$o AS MATERIALIZED (
             |  SELECT node FROM u$o
             |  WHERE node NOT IN (SELECT dst FROM sub0_$o)
             |     OR node NOT IN (SELECT src FROM sub0_$o)),
             |uu$o AS (SELECT node FROM u$o
             |         WHERE node NOT IN (SELECT node FROM triv_$o)),
             |sub$o AS MATERIALIZED (
             |  SELECT src, dst FROM sub0_$o
             |  WHERE src IN (SELECT node FROM uu$o)
             |    AND dst IN (SELECT node FROM uu$o)),
             |f${o}_0 AS (SELECT node, node AS f FROM uu$o),
             |${fRounds(o)},
             |b${o}_0 AS (SELECT node, f FROM f${o}_$inner WHERE node = f),
             |${bRounds(o)},
             |conv$o AS (SELECT
             |  (NOT EXISTS (SELECT 1 FROM sub$o s
             |     JOIN f${o}_$inner fu ON fu.node = s.src
             |     JOIN f${o}_$inner fv ON fv.node = s.dst
             |     WHERE fu.f < fv.f))
             |  AND (NOT EXISTS (SELECT 1 FROM sub$o s
             |     JOIN b${o}_$inner bv ON bv.node = s.dst
             |     JOIN f${o}_$inner fu ON fu.node = s.src
             |     WHERE fu.f = bv.f
             |       AND s.src NOT IN (SELECT node FROM b${o}_$inner))) AS ok),
             |a$o AS (SELECT node, f FROM b${o}_$inner
             |        WHERE (SELECT ok FROM conv$o)),
             |u${o + 1} AS (SELECT node FROM uu$o
             |              WHERE node NOT IN (SELECT node FROM a$o))""".stripMargin
        s"""WITH oli AS (
           |  SELECT o_custkey, l_suppkey, l_returnflag
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e AS MATERIALIZED (
           |  SELECT DISTINCT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst FROM oli
           |  UNION
           |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           |  FROM oli WHERE l_returnflag = 'R'),
           |u1 AS (SELECT DISTINCT node FROM
           |  (SELECT src AS node FROM e UNION SELECT dst FROM e)),
           |${round(1)},
           |${round(2)}
           |SELECT CAST(node AS BIGINT) AS node, CAST(scc AS BIGINT) AS scc, settled FROM (
           |  SELECT node, node AS scc, TRUE AS settled FROM triv_1
           |  UNION ALL SELECT node, f, TRUE FROM a1
           |  UNION ALL SELECT node, node, TRUE FROM triv_2
           |  UNION ALL SELECT node, f, TRUE FROM a2
           |  UNION ALL SELECT node, node, FALSE FROM u3)
           |ORDER BY node""".stripMargin
      }),
    ),

    // DEGREE ASSORTATIVITY of the host link graph — the one-row
    // structural readout next to q221 reciprocity and q309's effective
    // diameter: do hub hosts link to other hubs (positive, community-
    // like) or to leaves (negative, broadcast-like)? Exact: over the
    // symmetrized edge list both endpoint-degree marginals coincide,
    // so Pearson r is a pure RATIONAL (no sqrt) — one shifted floor
    // division on decimal(38,0) rails (Graphs.degreeAssortativity).
    QueryDef(
      "q332_degree_assortativity",
      (s, dir) => Graphs.degreeAssortativity(hostLinkGraph(s, dir)),
      Some(hostGraphSql +
        """,
          |dg AS (SELECT src AS n, COUNT(*) AS deg FROM sym GROUP BY src),
          |agg AS (
          |  SELECT COUNT(*) AS m,
          |    SUM(CAST(dx.deg AS HUGEINT)) AS sx,
          |    SUM(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx,
          |    SUM(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy
          |  FROM sym JOIN dg dx ON dx.n = sym.src JOIN dg dy ON dy.n = sym.dst)
          |SELECT CAST(m AS BIGINT) AS n_sym_edges,
          |  CAST((1000000 * (m * sxy - sx * sx)
          |        + 1000000 * (m * sxx - sx * sx)) // (m * sxx - sx * sx)
          |       - 1000000 AS BIGINT) AS r_ppm
          |FROM agg""".stripMargin),
    ),

    // One integer LOUVAIN move pass refining the q183-style LPA labels
    // on the host graph — the community tier becomes propose (LPA) →
    // score (modularity q313) → IMPROVE (this): every node moves to
    // the neighboring community maximizing the cross-multiplied gain
    // score 2m·k_in(c) − k_i·(Σtot(c) − [c=cur]·k_i), ties to the
    // smaller label, all integer (Graphs.modularityGainMove — no
    // division, engine-exact). Demo starts from SINGLETONS (the
    // classic Louvain level-1 first sweep). The oracle replays degree/
    // tot/k_in and the argmax with the identical tie-break.
    QueryDef(
      "q327_modularity_move",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        // hostLinkGraph is SYMMETRIC; the operator wants each undirected
        // edge once (the q313 convention) — canonicalize before passing
        val und = g.where(col("src") < col("dst"))
        val singles = g.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("lab"))
        Graphs.modularityGainMove(und, singles)
          .select(col("node").as("host"), col("lab").as("community"))
          .orderBy(col("host"))
      },
      Some(hostGraphSql +
        """,
          |sym2 AS (SELECT src, dst FROM sym WHERE src <> dst),
          |m AS (SELECT COUNT(*) AS m FROM sym2 WHERE src < dst),
          |degt AS (SELECT src AS node, COUNT(*) AS ki FROM sym2 GROUP BY src),
          |lab AS (SELECT src AS node, src AS lab FROM (SELECT DISTINCT src FROM sym2)),
          |tot AS (SELECT lab.lab, SUM(degt.ki) AS tot
          |        FROM degt JOIN lab ON lab.node = degt.node GROUP BY lab.lab),
          |kin AS (SELECT sym2.src AS node, lab.lab AS c, COUNT(*) AS kin
          |        FROM sym2 JOIN lab ON lab.node = sym2.dst GROUP BY 1, 2),
          |cand AS (
          |  SELECT node, c, kin FROM kin
          |  UNION
          |  SELECT lab.node, lab.lab AS c, COALESCE(kin.kin, 0) AS kin
          |  FROM lab LEFT JOIN kin ON kin.node = lab.node AND kin.c = lab.lab),
          |scored AS (
          |  SELECT cand.node, cand.c,
          |    2 * m.m * cand.kin
          |      - degt.ki * (tot.tot - CASE WHEN cand.c = lab.lab
          |                                  THEN degt.ki ELSE 0 END) AS score
          |  FROM cand
          |  JOIN lab ON lab.node = cand.node
          |  JOIN degt ON degt.node = cand.node
          |  JOIN tot ON tot.lab = cand.c, m)
          |SELECT node AS host, c AS community FROM (
          |  SELECT node, c,
          |    ROW_NUMBER() OVER (PARTITION BY node ORDER BY score DESC, c) AS rn
          |  FROM scored) WHERE rn = 1
          |ORDER BY host""".stripMargin),
    ),

    // DETERMINISTIC adjacency cap at maxDeg = 3 on the host graph — the
    // hub pre-step the walk tier's skew story promises (SCALE.md): a
    // hub's adjacency is capped to the maxDeg neighbors ranked smallest
    // by (portableHash(src:dst), dst) BEFORE walking, bounding
    // node2vec's |frontier|·deg(cur) candidate fan-out per walk-visit
    // to |frontier|·maxDeg regardless of hub degree
    // (Graphs.capAdjacency; CapAdjacencySpec pins capped ≡ uncapped
    // when maxDeg covers the true max degree, SkewRehearsalSpec pins
    // the flat budget as the hub grows). Pure hash ranking — the
    // oracle replays it with the same md5-prefix cast.
    QueryDef(
      "q339_capped_adjacency",
      (s, dir) => Graphs.capAdjacency(hostLinkGraph(s, dir), maxDeg = 3)
        .orderBy(col("src"), col("dst")),
      Some(hostGraphSql +
        """,
          |rk AS (SELECT src, dst,
          |  ROW_NUMBER() OVER (PARTITION BY src
          |    ORDER BY CAST(('0x' || substring(md5(src||':'||dst),1,15)) AS BIGINT),
          |             dst) AS rk
          |  FROM sym)
          |SELECT src, dst FROM rk WHERE rk <= 3 ORDER BY src, dst""".stripMargin),
    ),

    // LINK PREDICTION over the host graph — the candidate-edge table a
    // recommender ranks: for every non-adjacent host pair at distance
    // 2, common-neighbor count + the Resource-Allocation index
    // Σ 1e6 div deg(z) over shared neighbors (Graphs.
    // linkPredictionScores — integer-exact, one floor per shared
    // neighbor; RA needs no log, unlike Adamic-Adar). The oracle
    // replays the wedge join + anti-join + floored rollup.
    QueryDef(
      "q340_link_prediction",
      (s, dir) => Graphs.linkPredictionScores(
          hostLinkGraph(s, dir).where(col("src") < col("dst"))
            .select(col("src").as("a"), col("dst").as("b")))
        .orderBy(col("u"), col("v")),
      Some(hostGraphSql +
        """,
          |und AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
          |dg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src),
          |w AS (
          |  SELECT x.src AS u, y.dst AS v, x.dst AS z
          |  FROM sym x JOIN sym y ON x.dst = y.src AND x.src < y.dst),
          |cand AS (
          |  SELECT u, v, z FROM w
          |  WHERE NOT EXISTS (SELECT 1 FROM und e WHERE e.a = w.u AND e.b = w.v))
          |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
          |  CAST(SUM(1000000 // dg.deg) AS BIGINT) AS ra_ppm
          |FROM cand JOIN dg ON dg.node = cand.z
          |GROUP BY u, v ORDER BY u, v""".stripMargin),
    ),

    // RICH-CLUB coefficient ladder over the host graph — WHERE on the
    // degree spectrum do hubs close ranks (the curve reading next to
    // q332's one-number assortativity): φ(k) = 2·E_k·1e6 div
    // (N_k·(N_k−1)) over nodes with deg > k, thresholds with clubs of
    // < 2 members omitted (Graphs.richClub, decimal rails). The oracle
    // replays the per-k club restriction.
    QueryDef(
      "q341_rich_club",
      (s, dir) => Graphs.richClub(
          hostLinkGraph(s, dir).where(col("src") < col("dst"))
            .select(col("src").as("a"), col("dst").as("b")),
          Seq(1, 2, 4, 8, 16))
        .orderBy(col("k")),
      Some(hostGraphSql +
        """,
          |und AS (SELECT src AS a, dst AS b FROM sym WHERE src < dst),
          |dg AS (SELECT node, COUNT(*) AS deg FROM (
          |  SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          |  GROUP BY node),
          |ks AS (SELECT unnest([1, 2, 4, 8, 16]) AS k),
          |club AS (SELECT k, node FROM ks JOIN dg ON dg.deg > k),
          |nk AS (SELECT k, COUNT(*) AS n_club FROM club GROUP BY k),
          |ek AS (
          |  SELECT ks.k, COUNT(*) AS e_club
          |  FROM ks JOIN und ON TRUE
          |  JOIN dg da ON da.node = und.a JOIN dg db ON db.node = und.b
          |  WHERE da.deg > ks.k AND db.deg > ks.k GROUP BY ks.k)
          |SELECT CAST(nk.k AS BIGINT) AS k, nk.n_club,
          |  CAST(COALESCE(ek.e_club, 0) AS BIGINT) AS e_club,
          |  CAST((2 * CAST(COALESCE(ek.e_club, 0) AS HUGEINT) * 1000000)
          |       // (CAST(nk.n_club AS HUGEINT) * (nk.n_club - 1)) AS BIGINT)
          |    AS phi_ppm
          |FROM nk LEFT JOIN ek ON ek.k = nk.k
          |WHERE nk.n_club >= 2 ORDER BY k""".stripMargin),
    ),

    // INCREMENTAL degree assortativity (q332's maintained form — the
    // FIFTEENTH maintained member, and the only SCALAR one): state is
    // the four sufficient statistics (Σdeg, Σdeg², Σdeg³, Σ_sym
    // deg·deg); node sums update closed-form from the delta endpoints'
    // degree changes, the edge sum from the 1-ball's incident terms —
    // base is scanned, never exchanged (Graphs.
    // incrementalAssortativity; the r13 shuffle discipline). The
    // oracle is q332's ONE-SHOT batch SQL over ALL edges, so a pass
    // proves maintained ≡ recompute.
    QueryDef(
      "q342_incremental_assortativity",
      (s, dir) => {
        val und = PinnedCache.pin(
          hostLinkGraph(s, dir).where(col("src") < col("dst"))
            .select(col("src").as("a"), col("dst").as("b")))
        val isBase = pmod(hash(col("a"), col("b")), lit(5)) =!= 0
        val base = und.where(isBase)
        val delta = und.where(!isBase)
        Graphs.incrementalAssortativity(
          Graphs.degreeAssortativityStats(base), base, delta)
      },
      Some(hostGraphSql +
        """,
          |dg AS (SELECT src AS n, COUNT(*) AS deg FROM sym GROUP BY src),
          |agg AS (
          |  SELECT COUNT(*) AS m,
          |    SUM(CAST(dx.deg AS HUGEINT)) AS sx,
          |    SUM(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx,
          |    SUM(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy
          |  FROM sym JOIN dg dx ON dx.n = sym.src JOIN dg dy ON dy.n = sym.dst)
          |SELECT CAST(m AS BIGINT) AS n_sym_edges,
          |  CAST((1000000 * (m * sxy - sx * sx)
          |        + 1000000 * (m * sxx - sx * sx)) // (m * sxx - sx * sx)
          |       - 1000000 AS BIGINT) AS r_ppm
          |FROM agg""".stripMargin),
    ),

    // RAND INDEX between the 2-round and 3-round LPA assignments of
    // the co-purchase graph — the partition-STABILITY readout a
    // curator wants before stratifying by community (did one more
    // round refine the mesoscale structure or churn it?): exact
    // pair-agreement via the contingency identity in doubled pair
    // units, one floor division on decimal rails (Graphs.randIndex —
    // contingency-sized state, no pair enumeration). The oracle
    // replays the LPA ladders to rounds 2 and 3 and the identity.
    QueryDef(
      "q345_rand_index",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = PinnedCache.pin(Graphs.basketPairs(li))
        // one 3-round ladder; rounds 2 and 3 are read off its trajectory
        // (synchronous LPA: the round-2 prefix of the 3-round run IS the
        // 2-round run bit-for-bit) — before r15 this ran 2+3 = 5 rounds
        val lp = Graphs.labelPropagationTrace(edges, rounds = 3,
          canonicalInput = true)
        Graphs.randIndex(lp(1), lp(2))
      },
      Some({
        s"""WITH e AS MATERIALIZED (
           |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
           |  FROM lineitem a JOIN lineitem b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
           |l0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
           |${lpaRounds(3)},
           |cont AS (
           |  SELECT l2.lab AS la, l3.lab AS lb, COUNT(*) AS nij
           |  FROM l2 JOIN l3 ON l2.node = l3.node GROUP BY 1, 2),
           |tot AS (SELECT CAST(SUM(nij) AS HUGEINT) AS n,
           |               SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS s11_2
           |        FROM cont),
           |ma AS (SELECT SUM(CAST(ai AS HUGEINT) * (ai - 1)) AS sa_2 FROM (
           |  SELECT la, SUM(nij) AS ai FROM cont GROUP BY la)),
           |mb AS (SELECT SUM(CAST(bj AS HUGEINT) * (bj - 1)) AS sb_2 FROM (
           |  SELECT lb, SUM(nij) AS bj FROM cont GROUP BY lb))
           |SELECT CAST(n AS BIGINT) AS n_nodes,
           |  CAST(((n * (n - 1) - sa_2 - sb_2 + 2 * s11_2) * 1000000)
           |       // (n * (n - 1)) AS BIGINT) AS ri_ppm
           |FROM tot, ma, mb""".stripMargin
      }),
    ),

    // GLOBAL TRANSITIVITY of the co-purchase graph — the one-row
    // clique-vs-chain verdict a dup-graph audit reads BEFORE q139's
    // per-node lcc: 3·triangles/wedges in exact rational ppm
    // (Graphs.globalTransitivity — both sums on decimal rails). The
    // oracle replays q139's oriented triangle enumeration and the
    // wedge rollup.
    QueryDef(
      "q346_global_transitivity",
      (s, dir) => {
        val li = tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        val edges = Graphs.basketPairs(li)
        Graphs.globalTransitivity(edges)
      },
      Some("""WITH e AS (
             |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
             |deg AS (
             |  SELECT node, COUNT(*) AS deg
             |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY node),
             |t AS (
             |  SELECT COUNT(*) AS n_tri
             |  FROM e e1 JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |w AS (SELECT SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS w2 FROM deg)
             |SELECT CAST(n_tri AS BIGINT) AS n_triangles,
             |  CAST((2 * CAST(3 * n_tri AS HUGEINT) * 1000000) // w2 AS BIGINT)
             |    AS transitivity_ppm
             |FROM t, w""".stripMargin),
    ),

    // AVERAGE NEIGHBOR DEGREE curve k_nn(k) of the host graph — the
    // assortativity SPECTRUM next to q332's one-number r: per degree
    // class, the mean neighbor degree in exact ppm (one floor per
    // class; within a class mean-over-edge-ends ≡ mean-of-node-means
    // exactly, since every member has the same degree —
    // Graphs.avgNeighborDegree). Rising = assortative; where the curve
    // bends is what the scalar hides. The oracle replays the join.
    QueryDef(
      "q349_avg_neighbor_degree",
      (s, dir) => Graphs.avgNeighborDegree(
          hostLinkGraph(s, dir).where(col("src") < col("dst"))
            .select(col("src").as("a"), col("dst").as("b")))
        .orderBy(col("deg")),
      Some(hostGraphSql +
        """,
          |dg AS (SELECT src AS node, COUNT(*) AS deg FROM sym GROUP BY src)
          |SELECT da.deg, CAST(COUNT(DISTINCT sym.src) AS BIGINT) AS n_nodes,
          |  CAST((SUM(CAST(db.deg AS HUGEINT)) * 1000000) // COUNT(*) AS BIGINT)
          |    AS knn_ppm
          |FROM sym JOIN dg da ON da.node = sym.src JOIN dg db ON db.node = sym.dst
          |GROUP BY da.deg ORDER BY da.deg""".stripMargin),
    ),

    // INCREMENTAL transitivity (q346's maintained form — the SIXTEENTH
    // maintained member, by pure COMPOSITION: the readout's two sums
    // run over the per-node frame incrementalTriangleCounts q306
    // already maintains, so no new exactness argument). Same nightly
    // dup-graph wave as q306; the oracle is the ONE-SHOT batch
    // transitivity over ALL pairs, so a pass proves maintained ≡
    // recompute.
    QueryDef(
      "q348_incremental_transitivity",
      (s, dir) => {
        val pairs = PinnedCache.pin(
          Dedup.jaccardPairs(tbl(s, dir, "documents"), "text", "doc_id", 0.5)
            .select(col("a_id").as("a"), col("b_id").as("b")))
        val base = PinnedCache.pin(
          pairs.where((col("a") + col("b")) % 3 =!= 0))
        val delta = pairs.where((col("a") + col("b")) % 3 === 0)
        Graphs.incrementalTransitivity(
          Graphs.triangleCounts(base), base, delta)
      },
      Some("""WITH sh AS (
             |  SELECT doc_id, list_distinct([toks[i]||' '||toks[i+1]||' '||toks[i+2]
             |                                FOR i IN generate_series(1, len(toks)-2)]) AS s
             |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents)
             |  WHERE len(toks) >= 3),
             |e AS MATERIALIZED (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)
             |        /(len(a.s)+len(b.s)-len(list_intersect(a.s,b.s))) >= 0.5),
             |deg AS (
             |  SELECT node, COUNT(*) AS deg
             |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
             |  GROUP BY node),
             |t AS (
             |  SELECT COUNT(*) AS n_tri
             |  FROM e e1 JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |w AS (SELECT SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS w2 FROM deg)
             |SELECT CAST(n_tri AS BIGINT) AS n_triangles,
             |  CAST((2 * CAST(3 * n_tri AS HUGEINT) * 1000000) // w2 AS BIGINT)
             |    AS transitivity_ppm
             |FROM t, w""".stripMargin),
    ),

    // Butterfly (2x2-biclique) census of the order-part BIPARTITE graph
    // — the cohesion primitive where triangles cannot exist (every cycle
    // is even): two orders sharing two parts. Wedges form through the
    // SMALL-degree side (orders hold ~4 parts; parts sit in thousands of
    // orders — orienting the other way would square the hub degrees);
    // one self-equi-join + one (r1, r2) rollup + a 1-row decimal-rail
    // readout, never materializing a butterfly.
    QueryDef(
      "q355_butterfly_count",
      (s, dir) => Graphs.butterflyCount(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("l"), col("l_partkey").as("r"))
          .distinct()),
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r FROM lineitem),
             |w AS (
             |  SELECT a.r AS r1, b.r AS r2, COUNT(*) AS w
             |  FROM lp a JOIN lp b ON a.l = b.l AND a.r < b.r
             |  GROUP BY 1, 2)
             |SELECT CAST(COALESCE(SUM(CAST(w AS HUGEINT)), 0) AS BIGINT) AS wedges,
             |  COUNT(*) AS co_pairs,
             |  CAST(COALESCE(SUM(CAST(w AS HUGEINT) * (w - 1)), 0) // 2 AS BIGINT)
             |    AS butterflies
             |FROM w""".stripMargin),
    ),

    // INCREMENTAL butterflies (the 17th maintained form) on the
    // order-supplier bipartite graph: build the co-pair frame on 2/3 of
    // the edges, maintain through the remaining third (wedge-ball
    // update, cost ∝ touched orders' degrees), read the census off the
    // maintained frame. Proof obligation: the oracle is the ONE-SHOT
    // census over ALL edges, so a pass proves maintained ≡ recompute.
    QueryDef(
      "q356_incremental_butterfly",
      (s, dir) => {
        val edges = PinnedCache.pin(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("l"), col("l_suppkey").as("r"))
            .distinct())
        val base = PinnedCache.pin(edges.where((col("l") + col("r")) % 3 =!= 0))
        val delta = edges.where((col("l") + col("r")) % 3 === 0)
        Graphs.butterflyReadout(Graphs.incrementalButterflyCopairs(
          Graphs.butterflyCopairs(base), base, delta))
      },
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS l, l_suppkey AS r FROM lineitem),
             |w AS (
             |  SELECT a.r AS r1, b.r AS r2, COUNT(*) AS w
             |  FROM lp a JOIN lp b ON a.l = b.l AND a.r < b.r
             |  GROUP BY 1, 2)
             |SELECT CAST(COALESCE(SUM(CAST(w AS HUGEINT)), 0) AS BIGINT) AS wedges,
             |  COUNT(*) AS co_pairs,
             |  CAST(COALESCE(SUM(CAST(w AS HUGEINT) * (w - 1)), 0) // 2 AS BIGINT)
             |    AS butterflies
             |FROM w""".stripMargin),
    ),

    // Per-part butterfly participation on the order-part graph: which
    // parts sit deepest in repeated co-purchase bundles? A hub with
    // many ONE-OFF co-occurrences ranks below a part whose bundles
    // repeat (w >= 2 pairs are what create butterflies) — the readout
    // rides the same co-pair frame the maintained form keeps, so a
    // nightly pipeline gets it for one rollup. Top 20, deterministic
    // tie-break by part id.
    QueryDef(
      "q362_butterfly_participation",
      (s, dir) => Graphs.butterflyParticipation(Graphs.butterflyCopairs(
          tbl(s, dir, "lineitem")
            .select(col("l_orderkey").as("l"), col("l_partkey").as("r"))
            .distinct()))
        .orderBy(col("butterflies").desc, col("r")).limit(20),
      Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS l, l_partkey AS r FROM lineitem),
             |w AS (
             |  SELECT a.r AS r1, b.r AS r2, COUNT(*) AS w
             |  FROM lp a JOIN lp b ON a.l = b.l AND a.r < b.r
             |  GROUP BY 1, 2),
             |bo AS (
             |  SELECT r, COUNT(*) AS partners,
             |    SUM(CAST(w AS HUGEINT)) AS wsum,
             |    SUM(CAST(w AS HUGEINT) * (w - 1)) AS b2
             |  FROM (SELECT r1 AS r, w FROM w UNION ALL SELECT r2, w FROM w)
             |  GROUP BY r)
             |SELECT r, CAST(partners AS BIGINT) AS partners,
             |  CAST(wsum AS BIGINT) AS wedges,
             |  CAST(b2 // 2 AS BIGINT) AS butterflies
             |FROM bo ORDER BY butterflies DESC, r LIMIT 20""".stripMargin),
    ),

    // HyperANF on the host link graph — the at-scale twin of q309's
    // EXACT distance histogram: per-node 64-register HLLs of the
    // t-ball, one register-max merge per round (state nodes x 64 small
    // ints, cost ∝ edges — never seeds x nodes), read out through the
    // q133 portable-register family plus a PRECOMPUTED linear-counting
    // table so ln never executes in either engine. Every register bit
    // and every floored estimate is oracle-replayed.
    // INCREMENTAL HyperANF (the 18th maintained form): the register
    // TRACE is built on 2/3 of the host edges, then maintained through
    // the remaining third by diff propagation — previous-round diffs
    // through base edges + delta-endpoint registers through delta
    // edges; the stored trace is scanned/semi-joined, never re-run.
    // Proof obligation: the oracle is the ONE-SHOT full-graph census,
    // so a pass proves maintained-trace readout ≡ recompute bit for
    // bit (every register included — the readout hashes them all).
    QueryDef(
      "q369_incremental_hyperanf",
      (s, dir) => {
        val g = PinnedCache.pin(hostLinkGraph(s, dir))
        val base = PinnedCache.pin(
          g.where(col("src") < col("dst") &&
            (length(col("src")) + length(col("dst"))) % 3 =!= 0))
        val delta = g.where(col("src") < col("dst") &&
          (length(col("src")) + length(col("dst"))) % 3 === 0)
        Graphs.hyperAnfFromTrace(Graphs.incrementalHyperAnfTrace(
          Graphs.hyperAnfTrace(base, rounds = 3), base, delta))
      },
      Some(hyperAnfOracle),
    ),

    QueryDef(
      "q367_hyperanf",
      (s, dir) => Graphs.hyperAnf(hostLinkGraph(s, dir), rounds = 3,
        inputSymmetric = true),
      Some(hyperAnfOracle),
    ),
  )

  /** Full-graph HyperANF census over the host graph in DuckDB — shared
    * by q367 (one-shot) and q369 (maintained-trace proof obligation):
    * both must hash-match THIS derivation. */
  private lazy val hyperAnfOracle: String = {
    val lin = Graphs.hyperAnfLinMilli
      .map { case (v, m) => s"($v, ${m}::BIGINT)" }.mkString(", ")
    def round(prev: String, cur: String) =
      s"""$cur AS (SELECT node, bucket, MAX(m) AS m FROM (
         |    SELECT * FROM $prev UNION ALL
         |    SELECT s.src AS node, r.bucket, r.m
         |    FROM sym s JOIN $prev r ON r.node = s.dst) GROUP BY 1, 2)"""
        .stripMargin
    def readout(t: Int, cur: String) =
      s"""p$t AS (SELECT node, 64 - COUNT(*) AS v_zero,
         |    SUM(1::BIGINT << (55 - m))
         |      + (64 - COUNT(*)) * (1::BIGINT << 55) AS s_sum
         |  FROM $cur GROUP BY node),
         |e$t AS (SELECT p.node, p.v_zero,
         |    CASE WHEN p.v_zero > 0 THEN l.milli
         |      ELSE CAST(FLOOR(1000.0 * (0.709 * 4096.0 * 3.6028797018963968e16
         |                                / p.s_sum)) AS BIGINT) END AS est_milli
         |  FROM p$t p LEFT JOIN lin l ON l.v = p.v_zero),
         |rd$t AS (SELECT $t AS t, COUNT(*)::BIGINT AS n_nodes,
         |    SUM(CASE WHEN v_zero = 0 THEN 1 ELSE 0 END)::BIGINT AS n_saturated,
         |    SUM(est_milli)::BIGINT AS sum_est_milli
         |  FROM e$t)""".stripMargin
    hostGraphSql +
      s""",
         |lin(v, milli) AS (VALUES $lin),
         |n0 AS (SELECT DISTINCT src AS node FROM sym),
         |h0 AS (SELECT node,
         |  CAST(('0x' || substring(md5(node),1,15)) AS BIGINT) AS h FROM n0),
         |r0 AS (SELECT node, h % 64 AS bucket,
         |  CASE WHEN h >> 6 = 0 THEN 55
         |    ELSE 55 - length(bin(h >> 6)) END AS m FROM h0),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")},
         |${readout(1, "r1")},
         |${readout(2, "r2")},
         |${readout(3, "r3")}
         |SELECT * FROM rd1 UNION ALL SELECT * FROM rd2
         |UNION ALL SELECT * FROM rd3 ORDER BY t""".stripMargin
  }
}
