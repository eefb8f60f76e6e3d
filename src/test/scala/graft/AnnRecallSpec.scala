package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.queries.SimilarityQueries

/** Recall of the approximate ANN paths against exact brute-force top-k on
  * the real embeddings fixture (500 × 64-d, 10 labeled clusters): the
  * IVF index fed by REAL spherical-k-means centroids (the deploy path —
  * `sphericalKMeansCentroids` → `ivfTopK`), the seed-centroid variant the
  * oracle queries pin, and the sign-LSH path. Floors are pinned ~0.1
  * under measured values; everything here is deterministic (hash-seeded
  * planes, deterministic k-means seeds), so drift means a real change.
  */
class AnnRecallSpec extends SparkSpec {

  private val K = 5
  private val NQ = 30L

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "neighbor_id").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSet

  private lazy val truth: Set[(Long, Long)] = {
    val q = emb.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    pairs(Similarity.bruteForceTopK(
      emb, q, "vec_id", "embedding", "q_id", "q_emb", K, dim = 64))
  }

  private def recall(approx: Set[(Long, Long)]): Double =
    (approx & truth).size.toDouble / truth.size

  private def ivfRecall(cents: DataFrame, nprobe: Int, replication: Int = 1): Double =
    recall(pairs(Similarity.ivfTopK(emb, a => a.where(col("vec_id") < NQ),
      "vec_id", "embedding", cents, "c_id", "c_emb", K, nprobe, replication)))

  test("clustered fixture: trained centroids clear 0.9 at nprobe=2 and beat seeds") {
    // On the CLUSTERED fixture (16 separated integer centers + noise —
    // the ann_ivf_trained oracle fixture) a seed centroid is one noisy
    // member, so seeds misassign boundary vectors; trained means sit at
    // the true centers. Near-uniform fixtures showed only parity here —
    // this is the regime where training visibly pays (VERDICT r13 #7).
    val clustered = SimilarityQueries.clusteredEmbFixture(emb)
    // queries are CLEAN members (the 16 outlier seed vectors are index
    // hazards, not representative queries)
    val qFilter = (d: DataFrame) =>
      d.where(col("vec_id") >= 16 && col("vec_id") < 16 + NQ)
    val q = qFilter(clustered)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val clusteredTruth = pairs(Similarity.bruteForceTopK(
      clustered, q, "vec_id", "embedding", "q_id", "q_emb", K, dim = 16))
    def r(cents: DataFrame): Double = {
      val got = pairs(Similarity.ivfTopK(clustered, qFilter,
        "vec_id", "embedding", cents, "c_id", "c_emb", K, nprobe = 2))
      (got & clusteredTruth).size.toDouble / clusteredTruth.size
    }
    val seeds = clustered.where(col("vec_id") < 16)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val trained = Similarity.sphericalKMeansCentroidsInt(
      clustered, "vec_id", "embedding", k = 16, iterations = 2)
    val (rs, rt) = (r(seeds), r(trained))
    info(f"clustered recall@$K nprobe=2: seeds $rs%.3f, trained $rt%.3f")
    assert(rt >= 0.9, f"trained recall $rt%.3f under the 0.9 floor")
    assert(rt > rs, f"training did not beat seed centroids ($rt%.3f <= $rs%.3f)")
  }

  test("kmeans-fed IVF clears the recall floor; multi-probe only helps") {
    val learned = Similarity.sphericalKMeansCentroids(
      emb, "vec_id", "embedding", k = 8, iterations = 3)
    val r1 = ivfRecall(learned, nprobe = 1)
    val r2 = ivfRecall(learned, nprobe = 2)
    info(f"kmeans-IVF recall@$K: nprobe=1 $r1%.3f, nprobe=2 $r2%.3f")
    assert(r2 >= r1, "a superset candidate list cannot lose true neighbors")
    assert(r2 >= 0.6, f"kmeans-IVF nprobe=2 recall $r2%.3f under floor")
  }

  test("multi-assignment (replication=2) lifts nprobe=2 recall past 0.8") {
    // The production dial for near-uniform high-dimensional data: at
    // replication 1 NO centroid quality clears ~0.66 on this fixture
    // (measured over k ∈ {8..16}, iters ∈ {3,6}, two seedings) because
    // true neighbors sit across Voronoi boundaries; indexing each vector
    // in its 2 nearest cells does, at 2x index storage.
    val learned = Similarity.sphericalKMeansCentroids(
      emb, "vec_id", "embedding", k = 8, iterations = 3)
    val r1 = ivfRecall(learned, nprobe = 2, replication = 1)
    val r2 = ivfRecall(learned, nprobe = 2, replication = 2)
    val r3 = ivfRecall(learned, nprobe = 2, replication = 3)
    info(f"kmeans-IVF recall@$K nprobe=2: r=1 $r1%.3f, r=2 $r2%.3f, r=3 $r3%.3f")
    assert(r2 >= r1 && r3 >= r2, "replication widens the candidate set — recall is monotone")
    assert(r2 >= 0.8, f"replicated IVF recall $r2%.3f under the 0.8 floor")
  }

  test("learned centroids match or beat raw seed centroids on recall") {
    val learned = Similarity.sphericalKMeansCentroids(
      emb, "vec_id", "embedding", k = 8, iterations = 3)
    val seeds = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    val rLearned = ivfRecall(learned, nprobe = 2)
    val rSeeds = ivfRecall(seeds, nprobe = 2)
    info(f"nprobe=2 recall@$K: learned $rLearned%.3f vs seeds $rSeeds%.3f")
    assert(rLearned >= rSeeds,
      f"k-means centroids ($rLearned%.3f) lost to raw seeds ($rSeeds%.3f)")
  }

  test("int8 quantized cosine keeps near-full recall vs float brute force") {
    val q = emb.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val r = recall(pairs(Similarity.quantizedTopK(
      emb, q, "vec_id", "embedding", "q_id", "q_emb", K)))
    info(f"int8 quantized-cosine recall@$K: $r%.3f")
    assert(r >= 0.7, f"int8 recall $r%.3f under floor — quantizer broken")
  }

  test("PQ-ADC recall clears its floor (coarse 16-codeword codebooks)") {
    val adc = SparkEntry.queries("embed_pq_adc")(spark, "/root/testdata/sf0.001")
    val got = pairs(adc)
    val truth5 = truth.filter(_._1 < 5)
    val r = (got & truth5).size.toDouble / truth5.size
    info(f"PQ-ADC recall@$K (5 queries): $r%.3f")
    // 8-byte codes from seed codebooks are a coarse sieve — the point is
    // candidate generation before exact re-rank, not final ranking
    assert(r >= 0.2, f"PQ-ADC recall $r%.3f under floor")
  }

  test("Lloyd-trained PQ codebooks beat seed codebooks on ADC recall") {
    val q = emb.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def adcRecall(cb: DataFrame, m: Int): Double = {
      val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        dim = 64, m = m)
      recall(pairs(Similarity.pqAdcTopK(codes, "vec_id", cb, q,
        "q_id", "q_emb", K, dim = 64, m = m)))
    }
    // iterations=0 returns exactly the seed codebooks — the baseline the
    // embed_pq_* oracle queries pin
    val seedCb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 0, dim = 64)
    val trainedCb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 3, dim = 64)
    val bigCb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 16, k = 64, iterations = 3, dim = 64)
    val (rSeed, rTrained, rBig) =
      (adcRecall(seedCb, 8), adcRecall(trainedCb, 8), adcRecall(bigCb, 16))
    info(f"PQ-ADC recall@$K: seed(16) $rSeed%.3f, trained(16) $rTrained%.3f, " +
      f"trained(m16,k64) $rBig%.3f")
    assert(rTrained >= rSeed,
      f"training codebooks lost recall: $rTrained%.3f < $rSeed%.3f")
    assert(rBig >= rTrained,
      f"larger trained codebooks lost recall: $rBig%.3f < $rTrained%.3f")
    assert(rBig >= 0.4, f"trained(m16,k64) PQ-ADC recall $rBig%.3f under floor")
  }

  test("IVF-PQ composes: pruned probes + code scoring; exact re-rank recovers recall") {
    val cents = Similarity.sphericalKMeansCentroids(
      emb, "vec_id", "embedding", k = 8, iterations = 3)
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 16, k = 64, iterations = 3)
    def run(rerank: Int): Double =
      recall(pairs(Similarity.ivfPqTopK(emb, "vec_id", "embedding",
        cents, "c_id", "c_emb", cb,
        a => a.where(col("vec_id") < NQ), K,
        nprobe = 2, replication = 2, rerank = rerank, dim = 64, m = 16)))
    val rAdc = run(0)
    val rRe = run(50)
    info(f"IVF-PQ recall@$K (nprobe=2, r=2): ADC-only $rAdc%.3f, +exact-rerank@50 $rRe%.3f")
    assert(rRe >= rAdc, "re-ranking a superset candidate list cannot lose recall")
    // re-rank recovers most of the pure-IVF recall (0.81 here) while the
    // first stage touches only codes: floor pinned under the measured value
    assert(rRe >= 0.6, f"IVF-PQ re-ranked recall $rRe%.3f under floor")
  }

  test("int8 dequantization error is bounded by scale/254 per element") {
    // |v_i − q_i·ma/127| ≤ ma/254 by construction (round-half error of a
    // 1/127-step grid); a violation means the quantizer drifted off-grid.
    val bad = emb
      .withColumn("_m", Similarity.maxAbs("embedding"))
      .withColumn("_q", Similarity.quantizeInt8("embedding", "_m"))
      .where(expr(
        """exists(zip_with(embedding, _q,
          |  (v, qi) -> abs(CAST(v AS DOUBLE) - CAST(qi AS DOUBLE) * _m / 127D)
          |             > _m / 254D * 1.0000001D), e -> e)""".stripMargin))
      .count()
    assert(bad == 0L, s"$bad vectors exceed the int8 grid error bound")
  }

  test("all-zero vectors quantize to all zeros, not NaN") {
    val df = spark.createDataFrame(Seq(
        (1L, Array(0f, 0f, 0f, 0f)), (2L, Array(1f, -2f, 0.5f, 0f))))
      .toDF("vec_id", "embedding")
      .withColumn("_m", Similarity.maxAbs("embedding"))
      .withColumn("_q", Similarity.quantizeInt8("embedding", "_m"))
    val rows = df.orderBy("vec_id").select("_q").collect()
      .map(_.getSeq[Int](0).toList)
    assert(rows(0) == List(0, 0, 0, 0))
    assert(rows(1) == List(64, -127, 32, 0))
  }

  test("sign-LSH: plane count is the recall/cost dial, floors pinned") {
    val q = emb.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    def lshRecall(planes: Int): Double =
      recall(pairs(Similarity.lshTopK(emb, q, "vec_id", "embedding",
        "q_id", "q_emb", dim = 64, k = K, numPlanes = planes)))
    val byPlanes = Seq(2, 4, 6).map(p => p -> lshRecall(p))
    info(byPlanes.map { case (p, r) => f"$p planes $r%.3f" }
      .mkString(s"LSH recall@$K: ", ", ", ""))
    // fewer planes = bigger buckets = more candidates = higher recall;
    // a single 6-plane table trades recall hard (deploy path: multi-table
    // OR-amplification or fall back to IVF) — pin the measured profile
    val r = byPlanes.toMap
    assert(r(2) >= r(4) && r(4) >= r(6), s"recall not monotone in planes: $byPlanes")
    assert(r(2) >= 0.35, f"LSH(2) recall ${r(2)}%.3f under floor")
    assert(r(6) >= 0.05, f"LSH(6) recall ${r(6)}%.3f under floor")
  }

  test("pq/adc plan construction with dim/m constants runs zero driver jobs") {
    // Eager prerequisites (training materializes rounds) OUTSIDE the
    // measured window — the service-path claim is about ENCODE/SEARCH
    // plan construction, which a hot loop calls per request.
    val cb = Similarity.pqTrainCodebooks(emb, "vec_id", "embedding",
      m = 8, k = 16, iterations = 0, dim = 64)
    val cents = Similarity.sphericalKMeansCentroids(
      emb, "vec_id", "embedding", k = 8, iterations = 1)
    val q = emb.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val sc = spark.sparkContext
    sc.setJobGroup("pq-plan-audit", "plan construction must be job-free")
    try {
      val codes = Similarity.pqEncode(emb, cb, "vec_id", "embedding",
        dim = 64, m = 8)
      Similarity.pqAdcTopK(codes, "vec_id", cb, q, "q_id", "q_emb", K,
        dim = 64, m = 8).queryExecution.logical
      Similarity.ivfPqTopK(emb, "vec_id", "embedding", cents, "c_id", "c_emb",
        cb, a => a.where(col("vec_id") < NQ), K,
        nprobe = 2, rerank = 10, dim = 64, m = 8).queryExecution.logical
    } finally sc.clearJobGroup()
    // the status store is fed asynchronously — give the bus a beat
    Thread.sleep(500)
    val jobs = sc.statusTracker.getJobIdsForGroup("pq-plan-audit")
    assert(jobs.isEmpty,
      s"pq/adc construction with constants ran ${jobs.length} driver job(s) — " +
        "a dim/m inference job leaked back in")
  }
}
