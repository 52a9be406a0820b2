package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}

/** Family T — ML feature-engineering / statistical-profiling
  * extensions (ref: n/a, SURVEY §0 — the reference repo is empty):
  * higher-moment statistics, impurity profiling, autocorrelation,
  * categorical encoders, deterministic training-order interleaving,
  * character n-gram profiles, quantified-subquery semantics, k-means
  * diagnostics, and CUSUM changepoint detection.
  *
  * Determinism contract (the cross-engine trap ledger, SURVEY §7.4):
  * every aggregate is an EXACT integer/decimal power sum on the
  * round(x*10^k) quantization grid (the embed_quantize precedent —
  * both engines round doubles half-away-from-zero); doubles appear
  * only in the final per-group algebra, written as the same literal
  * expression tree on both sides so IEEE-exactly-rounded +,-,*,/,sqrt
  * produce bit-identical results.
  *
  * Scale shapes (the 100 TB contract):
  *  - T1 agg_skew_kurt / T3 ts_autocorr / T10 ts_cusum: one
  *    event_type-keyed exchange each; T1's partial aggregation ships
  *    5 power sums per (partition × type); T3/T10's windows and the
  *    follow-up aggregation share the SAME hash partitioning (no
  *    second exchange for T3's groupBy).
  *  - T2 dq_gini: stack-unpivot stays in codegen (one scan for K
  *    columns); two keyed shuffles whose payload is value-histogram
  *    sized, never input-sized.
  *  - T4 encode_onehot: the dictionary is built on the DEDUPED key
  *    table (vocabulary-sized, like StringIndexer) and broadcast back
  *    — the fact side never shuffles.
  *  - T5 encode_target: per-key partial sums + a broadcast 1-row
  *    global prior (the tpch_q15 pattern, no global window).
  *  - T6 interleave_order: shard is a pure md5 hash of the key
  *    (layout-independent); the per-shard manifest order rides one
  *    shard-keyed exchange.
  *  - T7 text_ngram_profile: trigram explosion is map-side; the
  *    (lang, trigram) count collapses via partial agg before the only
  *    full shuffle; the top-10 window runs on the aggregated table.
  *  - T9 embed_centroids: posexplode is map-side; one
  *    (label, dim)-keyed shuffle whose group count is labels × dims,
  *    independent of corpus size — the distributed k-means E-step.
  */
object FeatureQueries {

  /** round(x·10^k) → BIGINT: the exact quantization grid shared with
    * the DuckDB oracle (both engines round half away from zero).
    */
  private def grid(c: String, k: String) =
    expr(s"CAST(round($c * $k) AS BIGINT)")

  private val d38 = DecimalType(38, 0)

  val queries: Map[String, Q] = Map(
    // T1: per-type skewness (g1) and excess kurtosis (g2) from exact
    // integer power sums on the cent grid; scale-invariance means the
    // grid factor cancels everywhere but the mean.
    "agg_skew_kurt" -> ((s, d) =>
      load(s, d, "events")
        .select(col("event_type"), grid("value", "100").as("q"))
        // q^4 exceeds INT64 once |value| > ~550 (q = 56021 at sf0.1's
        // max → q⁴ ≈ 9.8e18 > 2^63): multiply in DECIMAL(38,0), never
        // in long, or the power sums wrap silently. Mirrored HUGEINT
        // arithmetic in the oracle. Caught by the sf0.1 gate, round 5.
        .withColumn("qd", col("q").cast(d38))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("qd")).as("s1"),
          sum(col("qd") * col("qd")).as("s2"),
          sum(col("qd") * col("qd") * col("qd")).as("s3"),
          sum((col("qd") * col("qd")) * (col("qd") * col("qd"))).as("s4"))
        .withColumn("mq", expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("e2", expr("CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("e3", expr("CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("e4", expr("CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("m2", expr("e2 - mq * mq"))
        .select(col("event_type"), col("n"),
          expr("CAST(mq / 100.0D AS DECIMAL(18,6))").as("mean_v"),
          expr("CAST((e3 - 3.0D * mq * e2 + 2.0D * mq * mq * mq) / (m2 * sqrt(m2)) AS DECIMAL(18,6))").as("skew"),
          expr("CAST((e4 - 4.0D * mq * e3 + 6.0D * mq * mq * e2 - 3.0D * mq * mq * mq * mq) / (m2 * m2) - 3.0D AS DECIMAL(18,6))").as("kurt"))
        .orderBy("event_type")),

    // T2: Gini impurity per profiled column — 1 - Σc²/N² from the
    // exact value histogram (no log(), which is libm-vs-JVM 1-ulp
    // territory; Gini is the rational-arithmetic impurity).
    "dq_gini" -> ((s, d) =>
      load(s, d, "orders")
        .select(expr(
          """stack(3,
            |  'o_orderstatus',   o_orderstatus,
            |  'o_orderpriority', o_orderpriority,
            |  'o_custkey',       CAST(o_custkey AS STRING)
            |) AS (col_name, v)""".stripMargin))
        .groupBy("col_name", "v").agg(count(lit(1)).as("c"))
        .groupBy("col_name")
        .agg(sum(col("c")).cast("long").as("n"),
          count(lit(1)).as("n_distinct"),
          // cast BEFORE multiplying: a hot value's count squares past
          // 2^63 long before the tested SFs hint at it (same wrap class
          // as the agg_skew_kurt sf0.1 catch)
          sum(col("c").cast(d38) * col("c").cast(d38)).as("sc2"))
        .select(col("col_name"), col("n"), col("n_distinct"),
          expr("CAST(1.0D - CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,6))").as("gini"))
        .orderBy("col_name")),

    // T3: lag-1 autocorrelation of value per event_type — Pearson r
    // over (x_t, x_{t-1}) pairs; the lag window and the aggregation
    // share one event_type exchange.
    "ts_autocorr" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy(col("ts").asc, col("event_id").asc)
      load(s, d, "events")
        .select(col("event_type"), col("ts"), col("event_id"), grid("value", "100").as("y"))
        .withColumn("x", lag(col("y"), 1).over(w))
        .filter(col("x").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(d38)).as("sx"),
          sum(col("y").cast(d38)).as("sy"),
          sum(col("x").cast(d38) * col("x").cast(d38)).as("sxx"),
          sum(col("y").cast(d38) * col("y").cast(d38)).as("syy"),
          sum(col("x").cast(d38) * col("y").cast(d38)).as("sxy"))
        .select(col("event_type"), col("n"),
          expr("""CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 | / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                 | AS DECIMAL(18,6))""".stripMargin).as("r1"))
        .orderBy("event_type")
    }),

    // T4: deterministic categorical one-hot encoding — the dictionary
    // is dense_rank over the DEDUPED key set (vocabulary-sized), then
    // broadcast back; the bit position doubles as the bitmask index.
    // T12 (round 11): the HASHING TRICK — fixed-width feature encoding
    // with NO vocabulary state (the HashingVectorizer contract, public
    // literature: Weinberger et al. ICML'09): token → bucket = the
    // md5-derived 32-bit value mod 1024, sign from the next hash
    // nibble, counts signed-summed per (doc, bucket); collisions
    // cancel in expectation and exact zeros drop (the sparse
    // representation). Map-only + ONE combinable (doc, bucket)
    // shuffle — the stateless single-pass featurizer a 100 TB pass
    // wants where a dictionary encoder costs O(vocab) broadcast state
    // and a second corpus scan. md5 is a pure function shared
    // bit-for-bit with the oracle, so the encoding is deterministic
    // and partitioning-independent.
    "encode_hashing_trick" -> ((s, d) =>
      load(s, d, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .selectExpr("doc_id",
          "CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 1024" +
            " AS bucket",
          "CASE WHEN substring(md5(w), 9, 1) < '8' THEN CAST(1 AS BIGINT)" +
            " ELSE CAST(-1 AS BIGINT) END AS sgn")
        .groupBy("doc_id", "bucket")
        .agg(sum(col("sgn")).cast("bigint").as("v"))
        .filter(col("v") =!= 0L)
        .orderBy("doc_id", "bucket")),

    "encode_onehot" -> ((s, d) => {
      val dims = load(s, d, "documents").select("lang").distinct()
        .withColumn("lang_idx",
          expr("CAST(dense_rank() OVER (ORDER BY lang) AS BIGINT) - 1"))
      load(s, d, "documents")
        .join(broadcast(dims), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("lang_idx"),
          expr("CAST(shiftleft(1L, CAST(lang_idx AS INT)) AS BIGINT)").as("onehot"))
        .orderBy("doc_id")
    }),

    // T5: smoothed target encoding — per-category mean of n_chars
    // shrunk toward the global mean with pseudo-count 20 (the
    // standard leakage-safe categorical feature); global prior is a
    // broadcast 1-row aggregate.
    "encode_target" -> ((s, d) => {
      val docs = load(s, d, "documents")
      val global = docs.agg(
        sum(col("n_chars").cast(d38)).as("gs"),
        count(lit(1)).as("gn"))
      docs.groupBy("lang")
        .agg(count(lit(1)).as("n"), sum(col("n_chars").cast(d38)).as("sc"))
        .crossJoin(broadcast(global))
        .select(col("lang"), col("n"),
          expr("CAST(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6))").as("raw_mean"),
          expr("""CAST((CAST(sc AS DOUBLE) + 20.0D * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
                 | / (CAST(n AS DOUBLE) + 20.0D) AS DECIMAL(18,6))""".stripMargin).as("smoothed"))
        .orderBy("lang")
    }),

    // T6: deterministic training-order interleave — shard by md5 hash
    // of the key (layout-independent, the sample_domain_mix grid),
    // manifest position by (hash, key) within shard; first 40
    // positions per shard.
    "interleave_order" -> ((s, d) => {
      val w = Window.partitionBy("shard").orderBy(col("h").asc, col("doc_id").asc)
      load(s, d, "documents")
        .withColumn("h", md5(col("doc_id").cast("string")))
        .withColumn("shard",
          (conv(substring(col("h"), 1, 2), 16, 10).cast("bigint") % 8).as("shard"))
        .withColumn("pos", row_number().over(w).cast("bigint"))
        .filter(col("pos") <= 40)
        .select(col("shard"), col("pos"), col("doc_id"), col("source"))
        .orderBy("shard", "pos")
    }),

    // T7: character-trigram profile — top-10 trigrams per language by
    // frequency (the language-ID support table). Explosion is
    // map-side; the only full shuffle carries (lang, trigram) partial
    // counts — plan-verified: partial_count before the single
    // hashpartitioning(lang, tg) exchange, 1.5M exploded rows collapse
    // to 1885 groups at sf0.1.
    // Round 18 (VERDICT r17 #7 — guide §1.2 "per-task work"): the
    // former positions-explode computed substring(tx, i, 3) per
    // position, and UTF8String.substring must SCAN from byte 0 to find
    // char i (UTF-8 is variable-width) — O(position) per trigram,
    // O(len²) per document. Splitting to a char array once and
    // indexing (ca[i], O(1)) makes the per-doc work linear:
    // measured 7.49 → 2.47 s at sf0.1 with bit-identical (lang, tg, c)
    // profiles (both formulations are character-positioned, so the
    // trigram multiset is the same by construction; the aggregated
    // maps were cross-checked).
    "text_ngram_profile" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("c").desc, col("tg").asc)
      load(s, d, "documents")
        .filter(length(col("text")) >= 3)
        .select(col("lang"), split(lower(col("text")), "").as("ca"))
        .select(col("lang"), explode(expr(
          "transform(sequence(0, size(ca) - 3), " +
            "i -> concat(ca[i], ca[i+1], ca[i+2]))")).as("tg"))
        .groupBy("lang", "tg").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter(col("rn") <= 10)
        .select(col("lang"), col("rn"), col("tg"), col("c"))
        .orderBy("lang", "rn")
    }),

    // T8: quantified-subquery semantics (> ALL / < ANY) via the
    // min-max rewrite — including the empty-set edge (ALL over ∅ is
    // TRUE, ANY over ∅ is FALSE), which the bare max-compare gets
    // wrong (NULL). The subquery side is a broadcast 1-row aggregate.
    "subq_quantified" -> ((s, d) => {
      val sup = load(s, d, "supplier")
        .select(col("s_suppkey"), dec(col("s_acctbal")).as("bal"), col("s_nationkey"))
      val sub = sup.filter(col("s_nationkey") < 5)
        .agg(count(lit(1)).as("cs"), max(col("bal")).as("mx"))
      sup.crossJoin(broadcast(sub))
        .select(col("s_suppkey"), col("bal"),
          when(col("cs") === 0, lit(true)).otherwise(col("bal") > col("mx")).as("gt_all"),
          when(col("cs") === 0, lit(false)).otherwise(col("bal") < col("mx")).as("lt_any"))
        .orderBy("s_suppkey")
    }),

    // T9: per-label embedding centroids + per-dimension variance (the
    // k-means E-step diagnostic / cluster profile) — components are
    // quantized to the 1e-6 grid BEFORE summing so the centroid is
    // exact integer math; group count = labels × dims.
    "embed_centroids" -> ((s, d) =>
      load(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("p", "comp")))
        .select(col("label"), (col("p") + 1).cast("bigint").as("dim"),
          expr("CAST(round(CAST(comp AS DOUBLE) * 1000000.0D) AS BIGINT)").as("q"))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast(d38)).as("s1"),
          sum((col("q") * col("q")).cast(d38)).as("s2"))
        .withColumn("m1", expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .select(col("label"), col("dim"), col("n"),
          expr("CAST(m1 / 1000000.0D AS DECIMAL(18,6))").as("centroid"),
          expr("CAST((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - m1 * m1) / 1000000000000.0D AS DECIMAL(18,6))").as("variance"))
        .orderBy("label", "dim")),

    // T10: CUSUM changepoint — the index maximizing |n·S_t − t·S_n|
    // per event_type, computed ENTIRELY in exact integer arithmetic
    // (cross-multiplied, no running means); all three window passes
    // and the argmax share one event_type exchange.
    "ts_cusum" -> ((s, d) => {
      val ord = Window.partitionBy("event_type").orderBy(col("ts").asc, col("event_id").asc)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy("event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val base = load(s, d, "events")
        .select(col("event_type"), col("ts"), col("event_id"), grid("value", "100").as("q"))
        .withColumn("rn", row_number().over(ord).cast("bigint"))
        .withColumn("runq", sum(col("q")).over(run).cast(DecimalType(18, 0)))
        .withColumn("totq", sum(col("q")).over(all).cast(DecimalType(18, 0)))
        .withColumn("ntot", count(lit(1)).over(all).cast(DecimalType(10, 0)))
        .withColumn("cusum",
          expr("CAST(ntot AS DECIMAL(10,0)) * runq - CAST(rn AS DECIMAL(10,0)) * totq"))
      val pick = Window.partitionBy("event_type")
        .orderBy(abs(col("cusum")).desc, col("rn").asc)
      base.withColumn("rk", row_number().over(pick))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("rn").as("cp_rn"), col("ts").as("cp_ts"),
          expr("CAST(CAST(cusum AS DOUBLE) / (CAST(ntot AS DOUBLE) * 100.0D) AS DECIMAL(18,4))").as("cusum_mean"))
        .orderBy("event_type")
    }),

    // T11 (round 6): deterministic ±1 random projection 64 → 8 (JL):
    // the ANN-memory/shuffle-bytes compression step. Map-only codegen
    // expression over a literal sign matrix; integer fixed-point
    // accumulation makes every value bit-identical across engines and
    // partitionings. Long format (vec_id, k, v) for the compare —
    // array cells crash the gate's sort.
    "embed_project" -> ((s, d) =>
      graft.api.GraftOps.randomProjection(
          load(s, d, "embeddings"), "embedding", inDims = 64, outDims = 8)
        .select(col("vec_id"), posexplode(col("proj")))
        .select(col("vec_id"), (col("pos") + 1).cast("bigint").as("k"),
          col("col").as("v"))
        .orderBy("vec_id", "k")),
  )

  val oracle: Map[String, String] = Map(
    "embed_project" ->
      """WITH signs AS (
        |  SELECT k, j, CASE WHEN CAST(('0x' || substring(md5(k || ':' || j), 1, 1)) AS INT) % 2 = 0
        |               THEN 1 ELSE -1 END AS s
        |  FROM generate_series(1,8) t1(k), generate_series(1,64) t2(j)),
        | q AS (SELECT vec_id, j, CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576.0) AS BIGINT) AS qj
        |       FROM embeddings, generate_series(1,64) t(j)),
        | o AS (SELECT vec_id, k, SUM(s * qj) AS fx FROM q JOIN signs USING (j) GROUP BY 1, 2)
        |SELECT vec_id, CAST(k AS BIGINT) AS k, CAST(fx AS DOUBLE)/1048576.0 AS v
        |FROM o ORDER BY vec_id, k""".stripMargin,
    "agg_skew_kurt" ->
      """WITH q AS (SELECT event_type,
        |     CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS q FROM events),
        | a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS DECIMAL(38,0)) AS s1,
        |    CAST(sum(q * q) AS DECIMAL(38,0)) AS s2,
        |    CAST(sum(q * q * q) AS DECIMAL(38,0)) AS s3,
        |    CAST(sum((q * q) * (q * q)) AS DECIMAL(38,0)) AS s4
        |  FROM q GROUP BY 1),
        | m AS (SELECT event_type, n,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mq,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
        |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
        |  FROM a),
        | mm AS (SELECT *, e2 - mq * mq AS m2 FROM m)
        |SELECT event_type, n,
        |  CAST(mq / 100.0 AS DECIMAL(18,6)) AS mean_v,
        |  CAST((e3 - 3.0 * mq * e2 + 2.0 * mq * mq * mq) / (m2 * sqrt(m2)) AS DECIMAL(18,6)) AS skew,
        |  CAST((e4 - 4.0 * mq * e3 + 6.0 * mq * mq * e2 - 3.0 * mq * mq * mq * mq) / (m2 * m2) - 3.0 AS DECIMAL(18,6)) AS kurt
        |FROM mm ORDER BY event_type""".stripMargin,
    "dq_gini" ->
      """WITH u AS (
        |  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS v FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders),
        | h AS (SELECT col_name, v, count(*) AS c FROM u GROUP BY 1, 2),
        | a AS (SELECT col_name, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    sum(CAST(c * c AS DECIMAL(38,0))) AS sc2
        |  FROM h GROUP BY 1)
        |SELECT col_name, n, n_distinct,
        |  CAST(1.0 - CAST(sc2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS gini
        |FROM a ORDER BY col_name""".stripMargin,
    "ts_autocorr" ->
      """WITH q AS (SELECT event_type, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        | p AS (SELECT event_type, y, lag(y) OVER
        |    (PARTITION BY event_type ORDER BY ts, event_id) AS x FROM q),
        | a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
        |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
        |    sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
        |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
        |  FROM p WHERE x IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS DECIMAL(18,6)) AS r1
        |FROM a ORDER BY event_type""".stripMargin,
    // T12 twin: identical md5 bucket/sign arithmetic.
    "encode_hashing_trick" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE text IS NOT NULL),
        | f AS (SELECT doc_id,
        |    ('0x' || substring(md5(w), 1, 8))::BIGINT % 1024 AS bucket,
        |    CASE WHEN substring(md5(w), 9, 1) < '8' THEN CAST(1 AS BIGINT)
        |      ELSE CAST(-1 AS BIGINT) END AS sgn
        |  FROM tok WHERE len(w) > 0)
        |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
        |FROM f GROUP BY doc_id, bucket HAVING sum(sgn) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,
    "encode_onehot" ->
      """WITH dims AS (SELECT lang,
        |    CAST(dense_rank() OVER (ORDER BY lang) AS BIGINT) - 1 AS lang_idx
        |  FROM (SELECT DISTINCT lang FROM documents))
        |SELECT d.doc_id, d.lang, dims.lang_idx,
        |  CAST((CAST(1 AS BIGINT) << lang_idx) AS BIGINT) AS onehot
        |FROM documents d JOIN dims USING (lang)
        |ORDER BY doc_id""".stripMargin,
    "encode_target" ->
      """WITH g AS (SELECT sum(CAST(n_chars AS DECIMAL(38,0))) AS gs,
        |    CAST(count(*) AS BIGINT) AS gn FROM documents),
        | a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(n_chars AS DECIMAL(38,0))) AS sc
        |  FROM documents GROUP BY 1)
        |SELECT lang, n,
        |  CAST(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS raw_mean,
        |  CAST((CAST(sc AS DOUBLE) + 20.0 * (CAST(gs AS DOUBLE) / CAST(gn AS DOUBLE)))
        |    / (CAST(n AS DOUBLE) + 20.0) AS DECIMAL(18,6)) AS smoothed
        |FROM a, g ORDER BY lang""".stripMargin,
    "interleave_order" ->
      """WITH h AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2))::INT % 8 AS BIGINT) AS shard
        |  FROM documents),
        | p AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos FROM h)
        |SELECT shard, pos, doc_id, source FROM p
        |WHERE pos <= 40 ORDER BY shard, pos""".stripMargin,
    "text_ngram_profile" ->
      """WITH t AS (SELECT lang, lower(text) AS tx FROM documents WHERE length(text) >= 3),
        | g AS (SELECT lang, substring(tx, CAST(i AS INT), 3) AS tg
        |   FROM t, unnest(generate_series(1, length(tx) - 2)) AS u(i)),
        | c AS (SELECT lang, tg, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        | r AS (SELECT *, CAST(row_number() OVER
        |    (PARTITION BY lang ORDER BY c DESC, tg ASC) AS BIGINT) AS rn FROM c)
        |SELECT lang, rn, tg, c FROM r WHERE rn <= 10 ORDER BY lang, rn""".stripMargin,
    "subq_quantified" ->
      """SELECT s_suppkey, CAST(s_acctbal AS DECIMAL(18,2)) AS bal,
        |  CAST(s_acctbal AS DECIMAL(18,2)) > ALL
        |    (SELECT CAST(s_acctbal AS DECIMAL(18,2)) FROM supplier WHERE s_nationkey < 5) AS gt_all,
        |  CAST(s_acctbal AS DECIMAL(18,2)) < ANY
        |    (SELECT CAST(s_acctbal AS DECIMAL(18,2)) FROM supplier WHERE s_nationkey < 5) AS lt_any
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "embed_centroids" ->
      """WITH dims AS (SELECT unnest(generate_series(1, 64)) AS i),
        | q AS (SELECT label, CAST(i AS BIGINT) AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q
        |  FROM embeddings, dims WHERE i <= len(embedding)),
        | a AS (SELECT label, dim, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(q AS DECIMAL(38,0))) AS s1,
        |    sum(CAST(q * q AS DECIMAL(38,0))) AS s2
        |  FROM q GROUP BY 1, 2),
        | m AS (SELECT *, CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1 FROM a)
        |SELECT label, dim, n,
        |  CAST(m1 / 1000000.0 AS DECIMAL(18,6)) AS centroid,
        |  CAST((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - m1 * m1) / 1000000000000.0 AS DECIMAL(18,6)) AS variance
        |FROM m ORDER BY label, dim""".stripMargin,
    "ts_cusum" ->
      """WITH q AS (SELECT event_type, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS q FROM events),
        | w AS (SELECT event_type, ts,
        |    CAST(row_number() OVER ord AS BIGINT) AS rn,
        |    CAST(sum(q) OVER (ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,0)) AS runq,
        |    CAST(sum(q) OVER (PARTITION BY event_type) AS DECIMAL(18,0)) AS totq,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS DECIMAL(10,0)) AS ntot
        |  FROM q WINDOW ord AS (PARTITION BY event_type ORDER BY ts, event_id)),
        | c AS (SELECT *,
        |    CAST(ntot AS DECIMAL(10,0)) * runq - CAST(rn AS DECIMAL(10,0)) * totq AS cusum
        |  FROM w),
        | r AS (SELECT *, row_number() OVER
        |    (PARTITION BY event_type ORDER BY abs(cusum) DESC, rn ASC) AS rk FROM c)
        |SELECT event_type, rn AS cp_rn, ts AS cp_ts,
        |  CAST(CAST(cusum AS DOUBLE) / (CAST(ntot AS DOUBLE) * 100.0) AS DECIMAL(18,4)) AS cusum_mean
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin
  )
}
