package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{dec, load}
import graft.api.GraftOps

/** Family L — pipeline operators beyond the §2 contract: the
  * sessionization / resampling / sampling / stats / clustering pieces a
  * large-scale training-data pipeline runs between the §2 relational
  * core and the §2.K dedup/similarity family.
  *
  * Cross-engine determinism notes:
  *  - all event-time arithmetic runs on epoch MICROSECONDS as bigint
  *    (`unix_micros` / `epoch_us`) — second-floor epochs would reorder
  *    ties differently than the sub-second timestamps;
  *  - the stratified sample orders by md5 of the id — a stable,
  *    engine-portable pseudo-random permutation (rand()/xxhash64 are
  *    engine-specific);
  *  - agg_stats derives variance/correlation from exact decimal power
  *    sums with an IDENTICAL double expression tree on both engines, so
  *    the 6-dp-rounded outputs match bit-for-bit.
  */
object PipelineQueries {

  val queries: Map[String, Q] = Map(
    // L1: gap-based sessionization (30-min gap) — one shuffle on
    // user_id, two window passes sharing the exchange, then the
    // session rollup.
    "sessionize_batch" -> ((s, d) => {
      val ev = load(s, d, "events")
        .withColumn("ep_us", expr("unix_micros(cast(ts as timestamp))"))
      GraftOps.sessionize(ev, "user_id", "ep_us", "event_id",
        gapMicros = 1800L * 1000000L)
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n"),
          min(col("ep_us")).as("s_start_us"),
          max(col("ep_us")).as("s_end_us"),
          (max(col("ep_us")) - min(col("ep_us"))).as("dur_us"))
        .orderBy("user_id", "sess")
    }),

    // L2: per-user hourly resample with zero-filled gaps — the
    // time-grid join pattern (sequence + left join), shuffles only on
    // user_id.
    "timeseries_gapfill" -> ((s, d) => {
      val ev = load(s, d, "events")
        .withColumn("hr",
          floor(expr("unix_micros(cast(ts as timestamp))") / 3600000000L).cast("bigint"))
      val counts = ev.groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
      val grid = ev.groupBy("user_id")
        .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hr"))
      grid.join(counts, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "hr")
    }),

    // L3: deterministic stratified sample — exactly 100 orders per
    // status, chosen by the md5 permutation of the key.
    "sample_stratified" -> ((s, d) =>
      GraftOps.stratifiedSample(
        load(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice"),
        stratumCol = "o_orderstatus", idCol = "o_orderkey", n = 100)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderstatus", "rn")),

    // L4: moment statistics (mean/variance/stddev/correlation) from
    // exact decimal power sums — shuffle-order-independent, unlike
    // naive float `stddev`/`corr` accumulation. One map-side-partial
    // group-by carrying six sums.
    "agg_stats" -> ((s, d) => {
      val x = dec(col("l_quantity"))
      val y = dec(col("l_extendedprice"))
      val n = col("n").cast("double")
      load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(x).as("sx"), sum(x * x).as("sxx"),
          sum(y).as("sy"), sum(y * y).as("syy"),
          sum(x * y).as("sxy"))
        .select(col("l_returnflag"), col("n"),
          (col("sx").cast("double") / n).cast(DecimalType(18, 6)).as("mean_qty"),
          ((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n)
            / (n - 1)).cast(DecimalType(18, 6)).as("var_qty"),
          sqrt((col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n)
            / (n - 1)).cast(DecimalType(18, 6)).as("std_qty"),
          ((n * col("sxy").cast("double") - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(n * col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(n * col("syy").cast("double") - col("sy").cast("double") * col("sy").cast("double"))))
            .cast(DecimalType(18, 6)).as("corr_qp"))
        .orderBy("l_returnflag")
    }),

    // L5: value-picking window family — nth_value, lag with default,
    // running max; one shuffle, both frames share the partitioning.
    "win_value" -> ((s, d) => {
      val ord = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_id"),
          lag(col("o_totalprice"), 1, -1.0).over(ord).as("prev_price"),
          max(col("o_totalprice")).over(run).as("run_max"))
        .orderBy("o_orderkey")
    }),

    // L6: text normalization — lowercase, strip non-alphanumerics,
    // collapse whitespace. Map-only, shuffle-free (codegen'd regex).
    "text_normalize" -> ((s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
      load(s, d, "documents")
        .select(col("doc_id"), norm.as("norm_text"),
          length(norm).cast("bigint").as("n_chars_norm"))
        .orderBy("doc_id")
    }),

    // L7: heuristic quality scoring + keep/drop decision — the filter
    // stage of a pretraining corpus pipeline. Map-only; ratios via
    // identical double expression trees on both engines.
    "quality_filter" -> ((s, d) => {
      val words = split(col("text"), " ")
      val nWords = size(words).cast("bigint")
      val nShort = expr("size(filter(split(text, ' '), w -> length(w) <= 2))").cast("bigint")
      val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
      val shortR = (nShort.cast("double") / nWords.cast("double")).cast(DecimalType(18, 6))
      val alphaR = (alpha / length(col("text")).cast("double")).cast(DecimalType(18, 6))
      val avgW = ((length(col("text")).cast("double")
        - (nWords.cast("double") - 1)) / nWords.cast("double")).cast(DecimalType(18, 6))
      load(s, d, "documents")
        .select(col("doc_id"), nWords.as("n_words"),
          shortR.as("short_ratio"), alphaR.as("alpha_ratio"), avgW.as("avg_wlen"),
          (nWords >= 5 && alphaR.cast("double") >= 0.5 && shortR.cast("double") <= 0.5)
            .as("keep"))
        .orderBy("doc_id")
    }),

    // L11: funnel analysis — earliest view→click→purchase chain per
    // user, rolled into step conversion counts. Three Window passes
    // over ONE user_id shuffle (each step's cutoff references the
    // previous step's window result), then a global conditional
    // count-distinct. Order-free aggregation ⇒ deterministic.
    "funnel_steps" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      load(s, d, "events")
        .withColumn("ep", expr("unix_micros(cast(ts as timestamp))"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ep"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ep") > col("t_view"),
            col("ep"))).over(w))
        .withColumn("t_buy",
          min(when(col("event_type") === "purchase" && col("ep") > col("t_click"),
            col("ep"))).over(w))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("t_view").isNotNull, col("user_id"))).as("n_view"),
          countDistinct(when(col("t_click").isNotNull, col("user_id"))).as("n_click"),
          countDistinct(when(col("t_buy").isNotNull, col("user_id"))).as("n_buy"))
    }),

    // L12: cohort retention — users bucketed by epoch-week of their
    // first signup; distinct active users per (cohort week, weeks
    // since). Two keyed aggregations + one join on user_id.
    "cohort_retention" -> ((s, d) => {
      val wkUs = 604800000000L
      val ev = load(s, d, "events")
        .withColumn("ep", expr("unix_micros(cast(ts as timestamp))"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ep")).as("signup_ep"))
        .withColumn("cohort_wk", floor(col("signup_ep") / wkUs).cast("bigint"))
        .select("user_id", "cohort_wk")
      ev.join(cohort, "user_id")
        .withColumn("wk_since",
          (floor(col("ep") / wkUs).cast("bigint") - col("cohort_wk")).cast("bigint"))
        .filter(col("wk_since") >= 0)
        .groupBy("cohort_wk", "wk_since")
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_wk", "wk_since")
    }),

    // L22: MERGE/upsert — simulated update batch (10% price bump on
    // every 100th order) + inserts (re-keyed copies) merged into the
    // base with updates-win semantics via GraftOps.upsert.
    "dml_upsert" -> ((s, d) => {
      val base = load(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      val updates = base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      val inserts = base.filter(col("o_orderkey") % 100 === 50)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      GraftOps.upsert(base, updates.unionByName(inserts), "o_orderkey")
        .orderBy("o_orderkey")
    }),

    // DELETE companion to L22: anti-join removal of a key batch — the
    // copy-on-write delete a lake table runs for GDPR/retention
    // (same plan shape as MERGE's not-matched branch: one hash
    // anti-join on the key, broadcastable when the delete set is
    // small).
    "dml_delete" -> ((s, d) => {
      val base = load(s, d, "orders")
      val del = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"))
      base.join(del, base("o_orderkey") === col("k"), "left_anti")
        .orderBy("o_orderkey")
    }),

    // L23: data-quality gate — violation counts (nulls, domain, FK
    // orphans, duplicate keys) as one row; the assertion stage every
    // ingestion pipeline runs before publishing a partition.
    "dq_checks" -> ((s, d) => {
      val li = load(s, d, "lineitem")
      val o = load(s, d, "orders")
      // Round 17 (guide §2.3/§2.4): the three rule families previously
      // scanned lineitem three times (global null/domain agg, orphan
      // anti-join, duplicate-key groupBy). ONE grouped pass at the
      // natural key grain now carries all three: per (orderkey,
      // linenumber) the row count plus combinable null/domain tallies;
      // the global tallies are sums over the groups, the duplicate
      // surplus is Σ(n−1 | n>1), and orphan ROWS are Σn over groups
      // whose orderkey anti-joins orders — identical arithmetic, one
      // lineitem scan + one shuffle instead of three scans + two. The
      // grouped cut is materialized once (three downstream consumers).
      val g = GraftOps.materializeOnce(
        li.groupBy("l_orderkey", "l_linenumber").agg(
          count(lit(1)).as("n"),
          sum(when(col("l_quantity").isNull, 1L).otherwise(0L)).as("nulls"),
          sum(when(!col("l_returnflag").isin("A", "N", "R"), 1L).otherwise(0L))
            .as("bad")))
      val basic = g.agg(
        sum(col("nulls")).cast("bigint").as("n_null_qty"),
        sum(col("bad")).cast("bigint").as("n_bad_domain"))
      val orphans = g.join(o, g("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_orphans"))
      val dups = g.filter(col("n") > 1)
        .agg(coalesce(sum(col("n") - 1), lit(0L)).cast("bigint").as("n_dup_rows"))
      basic.crossJoin(orphans).crossJoin(dups)
    }),

    // L8: near-dup CLUSTERS — connected components (min-label
    // propagation) over the blocked n-gram-Jaccard pair graph; the
    // step that turns pairwise candidates into dedup groups with one
    // survivor each.
    "dedup_cluster" -> ((s, d) => {
      val docs = load(s, d, "documents")
      // Round 16 (VERDICT r15 #1): collapse exact replicas to a
      // min-id representative BEFORE the pair-graph build when the
      // corpus has any — a real crawl is replica-dominated and the
      // blocked self-join's candidate volume shrinks quadratically in
      // the replica factor. Loss-free: replicas share their rep's
      // block/shingles (Jaccard 1), so the component structure over
      // reps, re-expanded through the membership, IS the full-corpus
      // clustering with unchanged min labels — the DuckDB closure
      // oracle below is computed over ALL docs and still matches.
      // Below a 10% replica fraction (this driver's synthetic copies
      // carry distinct prefix tokens by design — factor ~1.0) the
      // operator short-circuits to the direct formulation after one
      // cheap count, so stray duplicates cost nothing.
      // Round 17: routing decision shared via CollapseGate (one
      // fingerprint-cached aggregate for all three gated tiers).
      GraftOps.collapsedClusters(docs, "doc_id", "text",
          routeHint = Some(CollapseGate.route(s, d)))(
          GraftOps.ngramJaccardPairs(_, "doc_id", "text", minJaccard = 0.8))
        .orderBy("doc_id")
    }),

    // L14 (round 6): the FLAGSHIP curation pipeline as one DAG —
    // quality gate → exact dedup → benchmark decontamination →
    // temperature resampling, i.e. the raw-crawl-to-training-mix path
    // every stage above exists for, composed end-to-end and oracled
    // end-to-end. Stage predicates replicate quality_filter /
    // dedup_exact / text_decontaminate / sample_temperature exactly
    // (same decimal-rounded ratios, same eval split, same md5
    // buckets). Plan shape: the quality gate is map-only; dedup is a
    // digest-keyed combinable groupBy + semi-join (flood-proof, narrow
    // shuffle keys); decontamination explodes ONLY the deduped
    // survivors against a broadcast eval-shingle set; the sampler adds
    // a combinable count + broadcast thresholds. Since round 17 the
    // DAG pins its two REUSED cuts (`ded`, `clean` — each feeds two
    // consumers) via materializeOnce (MEMORY_AND_DISK, released per
    // entry/dump by Bench/Verify): one corpus scan feeds the pipeline
    // and each multiply-consumed intermediate materializes exactly
    // once instead of re-executing the quality+dedup subtree per
    // consumer (up to 4× inside one action; stage timings in SCALE.md).
    "pipeline_end2end" -> ((s, d) => endToEnd(load(s, d, "documents"))),
  )

  /** The flagship curation DAG on an arbitrary documents frame
    * (doc_id, lang, text, ...) — shared by the `pipeline_end2end`
    * query binding and the SkewStress flood harness so the measured
    * plan IS the shipped plan. Stages are documented at the query
    * binding above; `stage` truncates the DAG for per-stage timing
    * (1 = quality gate, 2 = +dedup, 3 = +decontaminate, 4 = full).
    */
  def endToEnd(docs: org.apache.spark.sql.DataFrame,
      stage: Int = 4): org.apache.spark.sql.DataFrame = {
    // stage 1: quality gate on the train split (eval = doc_id % 29 == 0)
    val nWords = size(split(col("text"), " ")).cast("bigint")
    val nShort = expr("size(filter(split(text, ' '), w -> length(w) <= 2))").cast("bigint")
    val alphaR = (length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double")
      / length(col("text")).cast("double")).cast(DecimalType(18, 6))
    val shortR = (nShort.cast("double") / nWords.cast("double")).cast(DecimalType(18, 6))
    val q = docs.filter(col("doc_id") % 29 =!= 0)
      .withColumn("n_words", nWords)
      .filter(col("n_words") >= 5 && alphaR.cast("double") >= 0.5
        && shortR.cast("double") <= 0.5)
      .select("doc_id", "lang", "text", "n_words")
    if (stage == 1) return q
    // stage 2: exact dedup — min doc_id per normalized text, via the
    // digest-keyed combinable groupBy + semi-join of
    // GraftOps.exactDedupRows: an exact-duplicate flood collapses
    // map-side (windows have no partial aggregation) and the shuffle
    // key is the 16-byte digest, not the document text
    val dedRaw = GraftOps.exactDedupRows(q, "doc_id", "text")
    if (stage == 2) return dedRaw
    // Round 17 (guide §5 + the PLANS.md round-6 multi-occurrence
    // lesson, applied here by stage-wise measurement): `ded` feeds BOTH
    // the contamination shingle branch and the left-anti keep side, and
    // `clean` below feeds sampleTemperature's count aggregate AND its
    // final join — without materialization the quality+dedup subtree
    // executes up to 4× inside one action (the decontamination step
    // measured +2.6 s of a 4.0 s total, SCALE.md). Materialize
    // each reused cut once; Bench/Verify release the blocks per entry.
    val ded = GraftOps.materializeOnce(dedRaw)
    // stage 3: decontamination — drop survivors sharing a 5-gram
    // shingle with the eval split (broadcast eval set, semi-join)
    val ev = GraftOps.shingles(
        docs.filter(col("doc_id") % 29 === 0).select("doc_id", "text"),
        "text", 5, "sh")
      .select(explode(col("sh")).as("s")).distinct()
    val contaminated = GraftOps.shingles(ded, "text", 5, "sh")
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(ev), "s")
      .select("doc_id").distinct()
    val cleanRaw = ded.join(contaminated, Seq("doc_id"), "left_anti")
    if (stage == 3) return cleanRaw
    // stage 4: temperature resampling of the survivor mix (clean is
    // referenced twice inside sampleTemperature — materialized, see
    // the stage-3 note). Round 18 (VERDICT r17 #2 + guide §2.3
    // "project before you materialize"): BOTH of clean's consumers
    // (the per-lang count aggregate and the final threshold join) need
    // only (doc_id, lang, n_words) — the r17 pin carried the full
    // `text` column into the cached blocks, corpus-sized storage for a
    // 24-byte-per-row need, which is what regressed the COLD run-1
    // path (r18pre: first=30.4 s vs r16's 23.5). Projecting ahead of
    // the pin keeps the reuse and shrinks the block write to the three
    // narrow columns.
    GraftOps.sampleTemperature(
        GraftOps.materializeOnce(
          cleanRaw.select("doc_id", "lang", "n_words")),
        "doc_id", "lang", alpha = 0.5, targetFrac = 0.5)
      .select("doc_id", "lang", "n_words")
      .orderBy("doc_id")
  }

  val oracle: Map[String, String] = Map(
    "pipeline_end2end" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |  FROM documents
        |  WHERE doc_id % 29 <> 0
        |    AND len(string_split(text, ' ')) >= 5
        |    AND CAST(CAST(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |          / CAST(length(text) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) >= 0.5
        |    AND CAST(CAST(CAST(len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS DOUBLE)
        |          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) <= 0.5),
        | ded AS (SELECT doc_id, lang, text, n_words FROM (
        |    SELECT q.*, min(doc_id) OVER (PARTITION BY lower(trim(text))) AS min_id FROM q) t
        |   WHERE doc_id = min_id),
        | ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
        |   FROM documents WHERE doc_id % 29 = 0),
        | tr AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text, ' ')) - 4, 1)),
        |      i -> array_to_string((string_split(text, ' '))[i:i+4], ' ')))) AS s
        |   FROM ded),
        | bad AS (SELECT DISTINCT tr.doc_id FROM tr JOIN ev ON tr.s = ev.s),
        | clean AS (SELECT doc_id, lang, n_words FROM ded
        |   WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
        | cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY lang),
        | wts AS (SELECT lang, n, CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(18,6)) AS wn FROM cnt),
        | tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(wn) AS den FROM wts),
        | r AS (SELECT lang, CAST(floor(4294967296.0 * least(1.0,
        |         0.5 * CAST(nn AS DOUBLE) * CAST(wn AS DOUBLE)
        |           / (CAST(den AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT) AS thr
        |       FROM wts, tot)
        |SELECT c.doc_id, c.lang, c.n_words FROM clean c JOIN r USING (lang)
        |WHERE CAST(('0x' || substring(md5('7:' || CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < r.thr
        |ORDER BY c.doc_id""".stripMargin,
    "sessionize_batch" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ep_us
        |           FROM events),
        |     f AS (SELECT *, CASE WHEN lag(ep_us) OVER w IS NULL
        |                OR ep_us - lag(ep_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep_us, event_id)),
        |     g AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ep_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess
        |           FROM f)
        | SELECT user_id, sess, count(*) AS n, min(ep_us) AS s_start_us,
        |        max(ep_us) AS s_end_us, max(ep_us) - min(ep_us) AS dur_us
        | FROM g GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,
    "timeseries_gapfill" ->
      """WITH e AS (SELECT user_id,
        |             CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000) AS BIGINT) AS hr
        |           FROM events),
        |     c AS (SELECT user_id, hr, count(*) AS n FROM e GROUP BY user_id, hr),
        |     r AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1 FROM e GROUP BY user_id),
        |     g AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hr FROM r)
        | SELECT g.user_id, g.hr, coalesce(c.n, 0) AS n
        | FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.hr = c.hr
        | ORDER BY g.user_id, g.hr""".stripMargin,
    "sample_stratified" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        |  FROM orders) t
        | WHERE rn <= 100 ORDER BY o_orderstatus, rn""".stripMargin,
    "agg_stats" ->
      """WITH sums AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        | SELECT l_returnflag, n,
        |  CAST(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS DECIMAL(18,6)) AS mean_qty,
        |  CAST((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1) AS DECIMAL(18,6)) AS var_qty,
        |  CAST(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) - 1)) AS DECIMAL(18,6)) AS std_qty,
        |  CAST((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    AS DECIMAL(18,6)) AS corr_qp
        | FROM sums ORDER BY l_returnflag""".stripMargin,
    "win_value" ->
      """SELECT o_orderkey, o_custkey,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_id,
        |  lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
        |  max(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_max
        | FROM orders
        | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        | ORDER BY o_orderkey""".stripMargin,
    "text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
        |       ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        | FROM documents ORDER BY doc_id""".stripMargin,
    "quality_filter" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '), w -> length(w) <= 2)) AS BIGINT) AS n_short,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(length(text) AS DOUBLE) AS n_chars
        |  FROM documents)
        | SELECT doc_id, n_words,
        |  CAST(CAST(n_short AS DOUBLE) / CAST(n_words AS DOUBLE) AS DECIMAL(18,6)) AS short_ratio,
        |  CAST(n_alpha / n_chars AS DECIMAL(18,6)) AS alpha_ratio,
        |  CAST((n_chars - (CAST(n_words AS DOUBLE) - 1)) / CAST(n_words AS DOUBLE) AS DECIMAL(18,6)) AS avg_wlen,
        |  (n_words >= 5 AND CAST(CAST(n_alpha / n_chars AS DECIMAL(18,6)) AS DOUBLE) >= 0.5
        |   AND CAST(CAST(CAST(n_short AS DOUBLE) / CAST(n_words AS DOUBLE) AS DECIMAL(18,6)) AS DOUBLE) <= 0.5) AS keep
        | FROM q ORDER BY doc_id""".stripMargin,
    "funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ep
        |           FROM events),
        |     s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ep END)
        |              OVER (PARTITION BY user_id) AS t_view FROM e),
        |     s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND ep > t_view THEN ep END)
        |              OVER (PARTITION BY user_id) AS t_click FROM s1),
        |     s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND ep > t_click THEN ep END)
        |              OVER (PARTITION BY user_id) AS t_buy FROM s2)
        | SELECT count(DISTINCT user_id) AS n_users,
        |   count(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS n_view,
        |   count(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS n_click,
        |   count(DISTINCT CASE WHEN t_buy IS NOT NULL THEN user_id END) AS n_buy
        | FROM s3""".stripMargin,
    "cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ep
        |           FROM events),
        |     cohort AS (SELECT user_id,
        |         CAST(floor(min(ep) / 604800000000) AS BIGINT) AS cohort_wk
        |       FROM e WHERE event_type = 'signup' GROUP BY user_id)
        | SELECT cohort_wk,
        |   CAST(CAST(floor(ep / 604800000000) AS BIGINT) - cohort_wk AS BIGINT) AS wk_since,
        |   count(DISTINCT e.user_id) AS n_active
        | FROM e JOIN cohort ON e.user_id = cohort.user_id
        | WHERE CAST(floor(ep / 604800000000) AS BIGINT) - cohort_wk >= 0
        | GROUP BY cohort_wk, wk_since ORDER BY cohort_wk, wk_since""".stripMargin,
    "dml_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
        |     upd AS (SELECT o_orderkey, o_custkey, o_totalprice * 1.1 AS o_totalprice, o_orderstatus
        |             FROM base WHERE o_orderkey % 100 = 0),
        |     ins AS (SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |             FROM base WHERE o_orderkey % 100 = 50),
        |     delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        | SELECT * FROM delta
        | UNION ALL
        | SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
        | ORDER BY o_orderkey""".stripMargin,
    "dml_delete" ->
      "SELECT * FROM orders WHERE o_orderkey % 10 <> 0 ORDER BY o_orderkey",
    "dq_checks" ->
      """SELECT
        | (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_quantity IS NULL) AS n_null_qty,
        | (SELECT CAST(count(*) AS BIGINT) FROM lineitem WHERE l_returnflag NOT IN ('A','N','R')) AS n_bad_domain,
        | (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
        | (SELECT CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        |    FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber) t
        |    WHERE n > 1) AS n_dup_rows""".stripMargin,
    "dedup_cluster" ->
      """WITH RECURSIVE
        | docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | sh AS (SELECT doc_id,
        |     list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
        |       i -> array_to_string(w[i:i+2], ' '))) AS shingles,
        |     array_to_string(w[1:2], ' ') AS blk
        |   FROM docs),
        | pairs AS (
        |   SELECT a.doc_id AS a, b.doc_id AS b
        |   FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |   WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |       / len(list_distinct(a.shingles || b.shingles)) >= 0.8),
        | sym AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
        | reach(s, t) AS (SELECT doc_id, doc_id FROM documents
        |   UNION SELECT r.s, sym.b FROM reach r JOIN sym ON r.t = sym.a)
        | SELECT s AS doc_id, min(t) AS cluster FROM reach GROUP BY s ORDER BY doc_id""".stripMargin,
  )
}
