package graft

import org.apache.spark.sql.functions._

/** Planted-truth tests for the non-oracle LLM operators (SURVEY §5):
  * the testdata carries ground truth — 21 shared-prefix near-dup
  * groups in documents and 10 cluster labels in embeddings.
  */
class LlmOpsSpec extends GraftSpec {

  private lazy val plantedPairs: Set[(Long, Long)] = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 50).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.groupBy(_._2).values.filter(_.length > 1).flatMap { g =>
      val ids = g.map(_._1).sorted.toSeq
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  test("testdata still carries 21 planted near-dup groups") {
    val nGroups = Tables.load(spark, sf, "documents")
      .groupBy(substring(col("text"), 1, 50)).count()
      .filter(col("count") > 1).count()
    assert(nGroups === 21L)
  }

  test("dedup_near recovers every planted pair with no false positives") {
    val found = q("dedup_near").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plantedPairs.nonEmpty)
    assert((plantedPairs -- found).isEmpty,
      s"missed pairs: ${(plantedPairs -- found).take(5)}")
    assert((found -- plantedPairs).isEmpty,
      s"false positives: ${(found -- plantedPairs).take(5)}")
  }

  test("dedup_near leaves nothing cached once releaseMaterialized runs") {
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    q("dedup_near").count()
    graft.api.GraftOps.releaseMaterialized()
    assert(cache.isEmpty,
      "a persist outside the reuse-materializer registry outlived the release")
  }

  test("dedup_ngram (blocked 3-gram Jaccard) recovers every planted pair exactly") {
    val found = q("dedup_ngram").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found === plantedPairs)
  }

  test("dedup_simhash block-pair tables + verify: recall>=0.9, precision>=0.9") {
    // Round-6 operating point (VERDICT r5 item 6): candidates from
    // C(8,2) block-pair tables (complete to hamming <= 6), exact
    // shingle-Jaccard verify holds precision. Measured 1.0/1.0 at
    // sf0.01 and 0.96/0.996 at sf0.1.
    val found = q("dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.nonEmpty)
    val recall = (found & plantedPairs).size.toDouble / plantedPairs.size
    val precision = (found & plantedPairs).size.toDouble / found.size
    assert(recall >= 0.9, s"simhash recall $recall")
    assert(precision >= 0.9, s"simhash precision $precision")
  }

  test("dedup_embed_cos pairs are symmetric-safe (i<j) and thresholded") {
    val rows = q("dedup_embed_cos").collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDecimal(2).doubleValue >= 0.4)
    }
  }

  test("dedup_exact is idempotent (f(f(x)) = f(x)) and keys unique") {
    val once = q("dedup_exact")
    assert(once.select("doc_id").distinct().count() === once.count())
  }

  test("sim_topk matches a driver-side brute-force recomputation") {
    // (The testdata's labels are NOT neighborhood-correlated — cosine
    // top-1 label agreement ≈ 0.07 ≈ random — so correctness is
    // asserted against an independent exact computation instead.)
    val all = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): java.math.BigDecimal = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
    val expected = (0L until 10L).flatMap { qid =>
      all.keys.filter(_ != qid).toSeq
        .map(c => (c, cos(all(qid), all(c))))
        .sortBy { case (c, s) => (s.negate, c) }
        .take(5).zipWithIndex
        .map { case ((c, s), i) => (qid, c, s, i + 1L) }
    }.toSet
    val got = q("sim_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).stripTrailingZeros,
        r.getLong(3))).toSet
    val expNorm = expected.map { case (a, b, s, r) => (a, b, s.stripTrailingZeros, r) }
    assert(got === expNorm,
      s"diff: ${(got -- expNorm).take(3)} vs ${(expNorm -- got).take(3)}")
  }

  test("sim_ivf recall vs exact top-k beats its scan fraction") {
    val exact = q("sim_topk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = q("sim_ivf").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & exact).size.toDouble / exact.size
    // nprobe=3 of 10 buckets scans ~30% of the corpus; structure must
    // buy more recall than a random 30% scan would
    assert(recall >= 0.4, s"IVF recall@5 = $recall")
  }

  test("sim_project retrieves planted near-duplicates through the 8-dim shortlist") {
    // The honest recall contract for a compression tier (see
    // AnnStress doc): this corpus's exact top-5 sit on a noise
    // continuum (margins far below JL distortion at 8 dims — no
    // sublinear method can rank them; sim_ivf's bar on the same data
    // is 0.4). What the tier MUST retrieve is genuinely near
    // neighbors — so plant a cos ≈ 0.99 mutant partner per probe and
    // require the projected shortlist + full-dim re-rank to surface
    // it at rank 1.
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables.load(spark, sf, "embeddings")
    val base = 1000000L
    val mutants = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + lit(base)).as("vec_id"),
        expr("zip_with(embedding, concat(slice(embedding, 9, 56), slice(embedding, 1, 8)), " +
          "(x, y) -> cast(x + 0.1D * y as float))").as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(mutants)
    val out = graft.api.GraftOps.projectedCosineTopK(corpus, "vec_id", "embedding",
      col("vec_id") >= base, k = 5, inDims = 64).collect()
    val rank1Hits = out.count(r =>
      r.getLong(3) == 1L && r.getLong(1) == r.getLong(0) - base)
    assert(rank1Hits >= 9, s"planted partner at rank 1 for only $rank1Hits/10 probes")
  }

  test("sim_project overlap with the exact scan stays above collapse level") {
    // Catastrophic-breakage canary only (a broken projection or
    // shortlist would send this to ~0): on isotropic noise the
    // margin analysis (AnnStress doc) caps honest exact-top-5
    // overlap well below 1.
    val exact = q("sim_topk").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val proj = q("sim_project").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (proj & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"JL-projected overlap@5 = $recall")
  }

  test("sim_pq: re-ranked cosines are EXACT; recall@5 vs exact beats collapse") {
    import org.apache.spark.sql.functions._
    val rows = q("sim_pq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))
    // contract shape: 10 probes × top-5, ranks dense from 1
    assert(rows.length == 50)
    assert(rows.groupBy(_._1).values.forall(_.map(_._4).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L)))
    // EXACTNESS of the rerank: every reported cosine equals the
    // brute-force cosine of that pair — PQ approximates only WHICH
    // candidates are considered, never the reported score
    val all = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): java.math.BigDecimal = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, java.math.RoundingMode.HALF_UP)
    }
    rows.foreach { case (qid, cid, s, _) =>
      assert(s.stripTrailingZeros == cos(all(qid), all(cid)).stripTrailingZeros,
        s"($qid,$cid): reported $s is not the exact cosine")
    }
    // recall@5 against the exact scan (measured 0.64 at sf0.001 /
    // 0.70 at sf0.01 with shortlist=50; assert well above the ~0.05
    // collapse level of random 50-of-500 shortlists)
    val exact = q("sim_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(t => (t._1, t._2)).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 collapsed: $recall")
  }

  test("sim_pq is deterministic and its index encodes within the code range") {
    val a = q("sim_pq").collect().map(_.toSeq).toSeq
    val b = q("sim_pq").collect().map(_.toSeq).toSeq
    assert(a == b, "repeated PQ probes must answer identically")
    val emb = Tables.load(spark, sf, "embeddings")
    val root = graft.queries.LlmQueries.pqIndexFor(spark, sf, emb)
    val idx = spark.read.parquet(s"$root/index")
    import org.apache.spark.sql.functions._
    // every vector encoded, 8 codes each, all inside [0, 16)
    assert(idx.count() == emb.count())
    assert(idx.filter(expr(
      "size(codes) <> 8 OR exists(codes, c -> c < 0 OR c >= 16)"))
      .limit(1).isEmpty)
    // the codebook round-trips as driver model state: 8×16×8
    val cb = graft.queries.LlmQueries.pqCodebook(spark, root)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)))
  }

  test("cluster_assign beats random assignment by >3x") {
    val df = q("cluster_assign")
    val agree = df.filter(col("label") === col("assigned")).count().toDouble / df.count()
    assert(agree > 0.3, s"nearest-centroid label agreement: $agree (random = 0.1)")
  }

  test("text_fingerprint: planted near-dups share the prefix fingerprint") {
    val fp = q("text_fingerprint").select("doc_id", "prefix_fp")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sharing = plantedPairs.count { case (a, b) => fp(a) == fp(b) }
    assert(sharing.toDouble / plantedPairs.size > 0.8,
      s"only $sharing/${plantedPairs.size} planted pairs share prefix_fp")
  }

  test("int8Quantize: tinyint-ranged index whose dequantized ranking tracks exact") {
    import graft.api.GraftOps
    val emb = Tables.load(spark, sf, "embeddings")
    val qt = GraftOps.int8Quantize(emb, "vec_id", "embedding")
    // contract: every component in [-127, 127], scale = amax/127 > 0
    val bad = qt.filter(expr(
      "exists(q, x -> x IS NULL OR x < -127 OR x > 127) OR scale <= 0F")).count()
    assert(bad === 0L, s"$bad vectors violate the int8 contract")
    // the quality gate embed_quant_recon asserts: reconstruction
    // cosine stays >= 0.9999 for every vector (errors far below
    // ranking margins)
    val worst = q("embed_quant_recon").agg(min(col("q_cos"))).collect()(0).getDecimal(0)
    assert(worst.doubleValue() >= 0.9999, s"worst reconstruction cosine $worst")
    // end-to-end: top-5 cosine ranking computed ON the dequantized
    // index agrees with the exact float ranking
    val recon = qt.select(col("vec_id"),
      expr("transform(q, x -> cast(x * scale as float))").as("embedding"))
    graft.functions.GraftFunctions.register(spark)
    def top(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      GraftOps.cosineTopK(df, "vec_id", "embedding",
        probePredicate = col("vec_id") < 10, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (exact, quant) = (top(emb), top(recon))
    val overlap = (exact & quant).size.toDouble / exact.size
    info(f"int8-index top-5 overlap with exact = $overlap%.3f")
    assert(overlap >= 0.8, s"quantized ranking diverged: overlap $overlap")
  }

  // ---- Pinned sf0.1 operating points (VERDICT r7 Next-round #6) ----
  // AnnStress measured recall-vs-scan-fraction curves at sf0.1; these
  // tests pin the current operating points as regression floors so a
  // parameter or algorithm change that silently degrades the
  // approximate tiers fails a named test, not a future audit.

  private val sf01 = "/root/testdata/sf0.1"
  private def q01(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("sim_ann sf0.1 operating point: candidate set covers the exact top-5") {
    val exact = q01("sim_topk")
    val ann = q01("sim_ann")
    val recall = (ann & exact).size.toDouble / exact.size
    // measured 0.940 (2026-08-14, seeded LSH ⇒ deterministic); floor
    // leaves noise-free headroom only for corpus regen
    info(f"sim_ann candidate recall of exact top-5 at sf0.1 = $recall%.3f")
    assert(recall >= 0.85, s"sim_ann sf0.1 recall $recall below pinned 0.85 (measured 0.94)")
  }

  test("sim_ivf sf0.1 operating point: top-5 recall at nprobe=3 of 10") {
    val exact = q01("sim_topk")
    val ivf = q01("sim_ivf")
    val recall = (ivf & exact).size.toDouble / exact.size
    // measured 0.560 (2026-08-14) at a 30% scan fraction — beats a
    // random 30% scan's expected 0.30 by structure, consistent with
    // the SCALE.md margin analysis (noise-level neighbors cap ~0.6)
    info(f"sim_ivf recall@5 at sf0.1 = $recall%.3f")
    assert(recall >= 0.45, s"sim_ivf sf0.1 recall $recall below pinned 0.45 (measured 0.56)")
  }

  test("dedup_simhash is cross-tier consistent with oracled dedup_ngram at sf0.01") {
    // Same pattern as the dedup_near cross-check: the engine-specific
    // simhash tier (xxhash64 fingerprints, no DuckDB oracle) must
    // recover nearly all pairs the fully-oracled blocked n-gram
    // Jaccard tier confirms at >= 0.8 — anchoring the exemption to a
    // cross-engine-verified result, not just the 21 planted groups.
    val d = "/root/testdata/sf0.01"
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ngram = pairs("dedup_ngram")
    val simhash = pairs("dedup_simhash")
    assert(ngram.nonEmpty)
    val recall = (simhash & ngram).size.toDouble / ngram.size
    info(f"simhash recall of oracled ngram-tier pairs at sf0.01 = $recall%.3f")
    assert(recall >= 0.9, s"simhash missed oracled-tier pairs: recall $recall")
  }

  test("dedup_near is cross-tier consistent with oracled dedup_minhash at sf0.01") {
    // VERDICT r7 Next-round #7: the MLlib-LSH tier (no DuckDB oracle)
    // cross-checked against the DETERMINISTIC, fully-oracled banded
    // MinHash tier on the same corpus: every banded candidate pair
    // that passes dedup_near's own exact-Jaccard verify bar
    // (jaccard >= 0.5 on 3-word shingles) must be found by dedup_near
    // too — the exemption carries a consistency proof against an
    // oracled operator, not just planted pairs.
    val d = "/root/testdata/sf0.01"
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val near = pairs("dedup_near")
    val banded = pairs("dedup_minhash")
    // exact 3-shingle Jaccard for the banded candidates (the verify
    // step dedup_minhash deliberately leaves to its consumers)
    val docs = Tables.load(spark, d, "documents")
    val sh = graft.api.GraftOps.shingles(docs, "text", 3, "sh")
      .select(col("doc_id"), col("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val verified = banded.filter { case (a, b) =>
      val (sa, sb) = (sh(a), sh(b))
      val inter = (sa & sb).size.toDouble
      inter / (sa.size + sb.size - inter) >= 0.5
    }
    assert(verified.nonEmpty, "cross-check vacuous: no verified banded pairs")
    val missed = verified -- near
    assert(missed.isEmpty,
      s"dedup_near missed ${missed.size} oracled-tier pairs, e.g. ${missed.take(5)}")
  }

  test("sim_ivfpq: candidates stay in probed lists; nprobe=nlist equals pqTopK") {
    import org.apache.spark.sql.functions._
    val a = q("sim_ivfpq").collect().map(_.toSeq).toSeq
    assert(a == q("sim_ivfpq").collect().map(_.toSeq).toSeq,
      "repeated IVF-PQ probes must answer identically")
    assert(a.nonEmpty && a.groupBy(_.head).values.forall(_.size <= 5))
    val emb = Tables.load(spark, sf, "embeddings")
    val cent = graft.api.GraftOps.centroids(emb, "label", "embedding")
    val root = graft.queries.LlmQueries.pqIndexFor(spark, sf, emb)
    val cb = graft.queries.LlmQueries.pqCodebook(spark, root)
    val buckets = graft.api.GraftOps
      .ivfAssign(emb, "vec_id", "embedding", cent)
      .select(col("c_id"), col("bucket"))
    // ROUTING property: every returned candidate's list is one of its
    // probe's nprobe=3 coarse buckets
    val bOf = buckets.collect() // test-sized (corpus ids -> bucket)
      .map(r => r.getLong(0) ->
        r.getAs[Number](1).longValue()).toMap
    val probed = graft.api.GraftOps
      .ivfProbes(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        cent, nprobe = 3)
      .select("q_id", "bucket").collect() // probes × nprobe rows
      .groupBy(_.getLong(0)).map { case (k, g) =>
        k -> g.map(_.getAs[Number](1).longValue()).toSet
      }
    a.foreach { r =>
      val (qid, cid) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
      assert(probed(qid).contains(bOf(cid)),
        s"candidate $cid of probe $qid escaped the probed lists")
    }
    // ALGEBRAIC anchor: with nprobe = nlist the bucket routing prunes
    // nothing, so IVF-PQ must equal the flat PQ scan EXACTLY (same
    // shortlist, same rerank, same rounding)
    val nlist = cent.count().toInt
    val index = spark.read.parquet(s"$root/index").join(buckets, "c_id")
    val full = graft.api.GraftOps.ivfpqTopK(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
      cent, cb, index, nprobe = nlist, k = 5, shortlist = 50)
      .orderBy("q_id", "rn").collect().map(_.toSeq).toSeq
    val flat = graft.api.GraftOps.pqTopK(
      emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
      cb, spark.read.parquet(s"$root/index"), k = 5, shortlist = 50)
      .orderBy("q_id", "rn").collect().map(_.toSeq).toSeq
    assert(full == flat,
      "nprobe=nlist IVF-PQ diverged from the flat PQ scan")
    // recall@5 vs the exact scan stays useful at nprobe=3
    val exact = q("sim_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = a.map(r =>
      (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall collapsed: $recall")
  }
}
