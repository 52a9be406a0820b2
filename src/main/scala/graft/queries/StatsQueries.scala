package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}

/** Family Q — statistical / time-series / LM-corpus extensions
  * (ref: n/a, SURVEY §0 — the reference repo is empty):
  * OLS trend fitting, OHLC resampling, bigram language-model
  * estimation, and triangle counting on the similarity graph.
  *
  * Scale shapes (the 100 TB contract):
  *  - Q1 agg_regression is one partial-aggregated shuffle carrying six
  *    exact power sums per group; the OLS algebra runs on the handful
  *    of group rows afterwards. Same monoid trick as agg_stats (L4):
  *    decimal sums commute, so the result is shuffle-order-free.
  *  - Q2 ts_ohlc shuffles once on (event_type, hour); the two
  *    row_number passes and the final group-by all ride that one
  *    exchange (window partition == group-by key).
  *  - Q3 text_bigram_lm is explode → one (w1,w2) count shuffle; the
  *    predecessor totals come from a window SUM over w1 on the
  *    already-aggregated (small) bigram table, not a second corpus
  *    scan. Output is capped per context by the rank filter, so
  *    result size scales with vocabulary, never corpus size.
  *  - Q4 graph_triangles builds the cos≥0.3 edge set with the
  *    grid-blocked candidate join (never all-pairs), then counts
  *    triangles with two hash equi-joins on vertex ids — the
  *    node-iterator algorithm; every join key is an int id.
  */
object StatsQueries {

  /** Hours since 2024-01-01 00:00 UTC (events all live in Jan 2024) —
    * centering x keeps the OLS normal equations far from double
    * cancellation; the same constant is subtracted in the oracle.
    */
  private val hourX = "CAST(floor(unix_micros(cast(ts as timestamp)) / 3600000000) - 473352 AS BIGINT)"

  val queries: Map[String, Q] = Map(
    // Q1: per-type OLS trend of value over time — slope/intercept/R²
    // from exact decimal power sums (never float accumulation), the
    // same dual-engine double tree as agg_stats.
    "agg_regression" -> ((s, d) => {
      val x = dec(expr(hourX))
      val y = dec(col("value"))
      val n = col("n").cast("double")
      def D(c: String) = col(c).cast("double")
      val varX = n * D("sxx") - D("sx") * D("sx")
      val covXY = n * D("sxy") - D("sx") * D("sy")
      val varY = n * D("syy") - D("sy") * D("sy")
      load(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(x * x).as("sxx"),
          sum(y).as("sy"), sum(y * y).as("syy"),
          sum(x * y).as("sxy"))
        .select(col("event_type"), col("n"),
          (covXY / varX).cast(DecimalType(18, 6)).as("slope"),
          ((D("sy") - (covXY / varX) * D("sx")) / n)
            .cast(DecimalType(18, 6)).as("intercept"),
          (covXY * covXY / (varX * varY))
            .cast(DecimalType(18, 6)).as("r2"))
        .orderBy("event_type")
    }),

    // Q2: hourly OHLC candles per event_type — open/close picked by
    // deterministic (ts, event_id) row_number passes instead of a
    // packed-bigint argmin, so no overflow anywhere; both window
    // passes and the final agg share one (type, hour) exchange.
    "ts_ohlc" -> ((s, d) => {
      val tu = expr("unix_micros(cast(ts as timestamp))")
      val base = load(s, d, "events")
        .select(col("event_type"), col("event_id"), col("value"),
          tu.as("tu"), floor(tu / 3600000000L).cast("bigint").as("hr"))
      val part = Window.partitionBy("event_type", "hr")
      val asc = part.orderBy(col("tu").asc, col("event_id").asc)
      val desc = part.orderBy(col("tu").desc, col("event_id").desc)
      base
        .withColumn("rn_o", row_number().over(asc))
        .withColumn("rn_c", row_number().over(desc))
        .groupBy("event_type", "hr")
        .agg(max(when(col("rn_o") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rn_c") === 1, col("value"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "hr")
    }),

    // Q3: bigram language model over the corpus — conditional
    // next-word probabilities p(w2|w1) = c(w1,w2)/c(w1·), top-3
    // continuations per context with ≥20 observations. The
    // probability is ONE exact-integer division emitted as a double
    // (no ln(): libm-vs-JVM 1-ulp trap, SURVEY §7.4).
    "text_bigram_lm" -> ((s, d) => {
      val bg = load(s, d, "documents")
        .select(split(col("text"), " ").as("w"))
        .select(explode(expr(
          "transform(sequence(2, size(w)), i -> struct(w[i-2] AS w1, w[i-1] AS w2))")).as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val ctx = Window.partitionBy("w1")
      val rank = Window.partitionBy("w1").orderBy(col("c2").desc, col("w2").asc)
      bg.withColumn("c1", sum(col("c2")).over(ctx))
        .withColumn("rn", row_number().over(rank).cast("bigint"))
        .filter(col("c1") >= 20 && col("rn") <= 3)
        .select(col("w1"), col("w2"), col("c2"), col("c1"),
          (col("c2").cast("double") / col("c1").cast("double")).as("p"),
          col("rn"))
        .orderBy("w1", "rn")
    }),

    // Q4: triangle count per vertex on the cos≥0.3 similarity graph —
    // node-iterator: ordered edges (a<b) joined twice on int ids;
    // the edge set comes from the PERSISTED similarity-graph index
    // (SimGraph, round 17 — built once per corpus fingerprint), never
    // an all-pairs cross or a per-query blocked-cosine rebuild.
    //
    // Round 18 (VERDICT r17 #3): the degree-ordered compact-forward
    // orientation was IMPLEMENTED AND MEASURED — sf1 isolated
    // min-of-3 went 22.9 → 49.5 s (2.2× SLOWER), so it was reverted.
    // Why it loses here: the cos≥0.3 similarity graph of this corpus
    // is a union of near-regular dense label clusters, so the (deg,
    // id) order degenerates to the ID order inside each cluster — the
    // wedge count the orientation is supposed to shrink stays the
    // same, and the plan pays a vertex-degree aggregate plus two
    // degree-attach joins plus a wider closing join for nothing
    // (guide §1.1: "a fresh implementation of the ideal plan is
    // usually slower — switch back to the empirical loop").
    // Evidence: plans/r18/graph_triangles_{before,after}.txt (the
    // rejected plan: 2 → 20 Exchanges) + OPTIMIZATION_r18.md §3.
    "graph_triangles" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = SimGraph.edges(s, d, minCos = 0.3)
        .select(col("a_id"), col("b_id"))
      val e1 = e.select(col("a_id").as("a"), col("b_id").as("b"))
      val e2 = e.select(col("a_id").as("b2"), col("b_id").as("c"))
      val e3 = e.select(col("a_id").as("a3"), col("b_id").as("c3"))
      val tri = e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .select("a", "b", "c")
      tri.select(col("a").as("vec_id"))
        .unionAll(tri.select(col("b").as("vec_id")))
        .unionAll(tri.select(col("c").as("vec_id")))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_tri"))
        .orderBy("vec_id")
    }),

    // Q5 (round 5): bounded BFS — 3-hop reachability distances from a
    // deterministic seed set over the similarity graph. Each hop is
    // one keyed equi-join frontier×edges + distinct (frontier-sized,
    // never vertex², the Pregel expansion written relationally); a
    // fixed hop bound keeps the plan static — the unbounded variant is
    // connectedComponents' iterative loop (dedup_cluster).
    "graph_bfs" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // Round 17 (VERDICT r16 #1): the edge list IS a table now — the
      // persisted SimGraph index ("a production pipeline lands the
      // edge list in a table for the same reason", round-5 comment,
      // taken at its word). This query measured 94% edge build
      // (70.4 s of 74.5 s sf1, SCALE.md); against the index it pays only
      // the seeds + 3 keyed hop joins.
      val p = SimGraph.edges(s, d, minCos = 0.3)
        .select(col("a_id"), col("b_id"))
      val edges = p.unionAll(
        p.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      val seeds = p.select(col("a_id").as("v")).distinct()
        .orderBy("v").limit(3)
      def hop(frontier: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        frontier.join(edges, frontier("v") === edges("a_id"))
          .select(col("b_id").as("v")).distinct()
      val f1 = hop(seeds)
      val f2 = hop(f1)
      val f3 = hop(f2)
      seeds.withColumn("dist", lit(0L))
        .unionAll(f1.withColumn("dist", lit(1L)))
        .unionAll(f2.withColumn("dist", lit(2L)))
        .unionAll(f3.withColumn("dist", lit(3L)))
        .groupBy("v").agg(min(col("dist")).as("dist"))
        .orderBy("v")
    }),

    // Q7 (round 17 — VERDICT r16 #1): the SIMILARITY-GRAPH INDEX
    // surfaced as its own oracled entry — the build-and-read lifecycle
    // every graph query above now rides. The index is a commit-log
    // table: v0 = the standing corpus's cos≥0.3 edges (blocked-cosine
    // self-join), v1 = ONE appended unit holding exactly the edges
    // the vec_id%10 batch introduces (batch × standing cross-blocked
    // join + batch self-join) — O(delta) growth, standing units
    // untouched. This query reads the LATEST snapshot, so the oracle
    // (DuckDB's from-scratch all-pairs join over the whole corpus)
    // checks both halves at once: the base build's completeness AND
    // the delta append's exactness — base ∪ delta must reconstruct
    // the full edge set bit-for-bit, cos_sim values included.
    "graph_edge_index" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      SimGraph.edges(s, d, minCos = 0.3)
        .orderBy("a_id", "b_id")
    }),

    // Q6 (round 11): CONNECTED COMPONENTS over a REAL bipartite graph
    // — orders ⋈ parts they contain (an l_orderkey%40 slice keeps
    // multiple components; node ids disambiguate the two sides by
    // parity). Reuses the engine's min-label Pregel loop
    // (GraftOps.connectedComponents — per-round keyed join + keyed
    // agg, localCheckpoint-truncated plans, converges in ≤ diameter
    // rounds): the SAME operator dedup_cluster runs on near-dup pairs,
    // here exposed as the named graph query so the oracle can pin it
    // against DuckDB's recursive-CTE transitive closure. Per-component
    // rollup: size + how many of each side. At 100 TB the per-round
    // cost is one shuffle on vertex id and the label frame is
    // O(vertices) — the closure the oracle materializes (O(Σ comp²))
    // is exactly what the iterative formulation avoids.
    "graph_components" -> ((s, d) => {
      val li = load(s, d, "lineitem")
        .filter(col("l_orderkey") % 40 === 0)
        .select((col("l_orderkey") * 2).as("a"),
          (col("l_partkey") * 2 + 1).as("b"))
        .distinct()
      val verts = li.select(col("a").as("id"))
        .unionAll(li.select(col("b").as("id"))).distinct()
      // maxIter 6 + the operator's exact contraction finish (round 17,
      // re-measured: the jumped fixpoint needs 18 rounds
      // at sf0.1, ~0.45 s/round — the r11 choice of 12 paid 6 more
      // distributed rounds than the driver finish needs). 6 jumped
      // rounds collapse every ≤2^6-hop ball; the residual inter-LABEL
      // pair graph is metadata-sized (measured 3.0k pairs sf0.1 after
      // 6 jumped rounds, SCALE.md — well under the 2e6 cap even at sf1's
      // ~10× growth) and closes exactly in the capped
      // union-find — same pinned answer, ~2.4 s less wall-clock, and
      // the over-cap distributed continuation still guards any scale.
      graft.api.GraftOps
        .connectedComponents(verts, "id", li, "a", "b", maxIter = 6)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).cast("bigint").as("n_nodes"),
          sum(when(col("id") % 2 === 0, 1L).otherwise(0L))
            .cast("bigint").as("n_orders"),
          sum(when(col("id") % 2 === 1, 1L).otherwise(0L))
            .cast("bigint").as("n_parts"))
        .select(col("cluster").cast("bigint").as("cluster"),
          col("n_nodes"), col("n_orders"), col("n_parts"))
        .orderBy("cluster")
    })
  )

  val oracle: Map[String, String] = Map(
    "agg_regression" ->
      """WITH sums AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(x) AS sx, sum(x*x) AS sxx,
        |    sum(y) AS sy, sum(y*y) AS syy, sum(x*y) AS sxy
        |  FROM (SELECT event_type,
        |      CAST(CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))/3600000000) - 473352 AS BIGINT) AS DECIMAL(18,2)) AS x,
        |      CAST(value AS DECIMAL(18,2)) AS y
        |    FROM events)
        |  GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |    AS DECIMAL(18,6)) AS slope,
        |  CAST((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS intercept,
        |  CAST((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |    / ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |     * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
        |    AS DECIMAL(18,6)) AS r2
        |FROM sums ORDER BY event_type""".stripMargin,
    "ts_ohlc" ->
      """WITH base AS (SELECT event_type, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tu,
        |    CAST(floor(epoch_us(CAST(ts AS TIMESTAMP))/3600000000) AS BIGINT) AS hr
        |  FROM events),
        | rk AS (SELECT event_type, hr, value,
        |    row_number() OVER (PARTITION BY event_type, hr
        |      ORDER BY tu ASC, event_id ASC) AS rn_o,
        |    row_number() OVER (PARTITION BY event_type, hr
        |      ORDER BY tu DESC, event_id DESC) AS rn_c
        |  FROM base)
        |SELECT event_type, hr,
        |  max(CASE WHEN rn_o = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_c = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM rk GROUP BY event_type, hr
        |ORDER BY event_type, hr""".stripMargin,
    "text_bigram_lm" ->
      """WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        | bg AS (SELECT b[1] AS w1, b[2] AS w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM (SELECT unnest(list_transform(generate_series(2, len(w)),
        |      i -> [w[i-1], w[i]])) AS b FROM w)
        |  GROUP BY 1, 2),
        | wd AS (SELECT w1, w2, c2,
        |    CAST(sum(c2) OVER (PARTITION BY w1) AS BIGINT) AS c1,
        |    CAST(row_number() OVER (PARTITION BY w1
        |      ORDER BY c2 DESC, w2 ASC) AS BIGINT) AS rn
        |  FROM bg)
        |SELECT w1, w2, c2, c1,
        |  CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p, rn
        |FROM wd WHERE c1 >= 20 AND rn <= 3
        |ORDER BY w1, rn""".stripMargin,
    "graph_triangles" ->
      """WITH e AS (SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) >= 0.3),
        | tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
        |  FROM e e1 JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        | v AS (SELECT a AS vec_id FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM v GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "graph_bfs" ->
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) >= 0.3),
        | edges AS (SELECT a_id, b_id FROM p
        |  UNION ALL SELECT b_id, a_id FROM p),
        | seeds AS (SELECT DISTINCT a_id AS v FROM p ORDER BY a_id LIMIT 3),
        | f1 AS (SELECT DISTINCT b_id AS v FROM edges JOIN seeds ON edges.a_id = seeds.v),
        | f2 AS (SELECT DISTINCT b_id AS v FROM edges JOIN f1 ON edges.a_id = f1.v),
        | f3 AS (SELECT DISTINCT b_id AS v FROM edges JOIN f2 ON edges.a_id = f2.v),
        | all_d AS (SELECT v, 0 AS dist FROM seeds
        |  UNION ALL SELECT v, 1 FROM f1
        |  UNION ALL SELECT v, 2 FROM f2
        |  UNION ALL SELECT v, 3 FROM f3)
        |SELECT v, CAST(min(dist) AS BIGINT) AS dist
        |FROM all_d GROUP BY v ORDER BY v""".stripMargin,
    // Q7: the from-scratch all-pairs edge set — what the persisted
    // index's latest snapshot (base build ∪ delta append) must equal.
    "graph_edge_index" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) AS cos_sim
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       CAST(b.embedding AS DOUBLE[])) AS DECIMAL(18,6)) >= 0.3
        | ORDER BY a_id, b_id""".stripMargin,
    // Q6 twin: the recursive-CTE transitive closure (every label
    // reachable from every node, then min per node) — the from-first-
    // principles fixpoint the iterative min-label loop must equal.
    "graph_components" ->
      """WITH RECURSIVE e AS (SELECT DISTINCT 2*l_orderkey AS a,
        |    2*l_partkey+1 AS b
        |  FROM lineitem WHERE l_orderkey % 40 = 0),
        | sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
        | lbl AS (
        |   SELECT a AS id, a AS cluster
        |   FROM (SELECT a FROM sym UNION SELECT b FROM sym) t(a)
        |   UNION
        |   SELECT s.a AS id, l.cluster FROM sym s JOIN lbl l ON s.b = l.id),
        | fin AS (SELECT id, min(cluster) AS cluster FROM lbl GROUP BY id)
        |SELECT CAST(cluster AS BIGINT) AS cluster,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orders,
        |  CAST(sum(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_parts
        |FROM fin GROUP BY cluster ORDER BY cluster""".stripMargin
  )
}
