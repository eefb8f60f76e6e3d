package graft

import org.apache.spark.sql.functions._

import graft.ops.Bloom
import graft.queries.QueryHelpers.scratchDir

/** Bloom-filter build + native probe: no false negatives, bounded false
  * positives, lossless pruning.
  */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every inserted key probes true") {
    val keys = (1 to 2000).map(_.toLong).toDF("k")
    val bloom = Bloom.build(keys, "k", mBits = 1 << 16, k = 5)
    val misses = Bloom.prune(keys, "k", bloom, k = 5).count()
    assert(misses === 2000L) // prune keeps all inserted keys
  }

  test("false positive rate within theory on disjoint probe keys") {
    val inserted = (1 to 2000).map(_.toLong).toDF("k")
    val probes = (100001 to 120000).map(_.toLong).toDF("k")
    // roomy filter: theory (1-e^(-kn/m))^k ≈ 5.7e-5 → expect ~0 of 20k
    val roomy = Bloom.build(inserted, "k", mBits = 1 << 16, k = 5)
    val fpRoomy = Bloom.prune(probes, "k", roomy, k = 5).count().toDouble / 20000
    assert(fpRoomy < 0.005, s"roomy filter fp $fpRoomy out of bound")
    // overloaded filter: fill = 1-e^(-3*2000/4096) ≈ 0.769, fp ≈ 0.455 —
    // observed rate must sit near theory (filter actually fills, probes
    // actually test bits), not at 0 or 1
    val tight = Bloom.build(inserted, "k", mBits = 1 << 12, k = 3)
    val fpTight = Bloom.prune(probes, "k", tight, k = 3).count().toDouble / 20000
    assert(fpTight > 0.35 && fpTight < 0.55, s"tight filter fp $fpTight far from theory 0.455")
  }

  test("pruning before a semi join never changes the join result") {
    val dim = (1 to 500).filter(_ % 7 == 0).map(_.toLong).toDF("k")
    val fact = (1 to 5000).map(i => (i.toLong % 600, i.toLong)).toDF("k", "v")
    val bloom = Bloom.build(dim, "k", mBits = 1 << 12, k = 4)
    val prunedJoin = Bloom.prune(fact, "k", bloom, k = 4)
      .join(dim, Seq("k"), "left_semi").orderBy("v").as[(Long, Long)].collect()
    val plainJoin = fact.join(dim, Seq("k"), "left_semi")
      .orderBy("v").as[(Long, Long)].collect()
    assert(prunedJoin.sameElements(plainJoin))
  }

  test("filter survives a parquet round-trip: build once, prune later") {
    val keys = (1 to 1000).map(_.toLong).toDF("k")
    val bloom = Bloom.build(keys, "k", mBits = 1 << 14, k = 4)
    val dir = scratchDir("graft_bloom").toString
    bloom.write.mode("overwrite").parquet(dir)
    // a later job (different session lifecycle) reads the stored filter
    val reread = spark.read.parquet(dir)
    val kept = Bloom.prune(keys, "k", reread, k = 4).count()
    assert(kept === 1000L) // still zero false negatives
    val fp = Bloom.prune((500001 to 510000).map(_.toLong).toDF("k"), "k", reread, k = 4)
      .count().toDouble / 10000
    assert(fp < 0.01) // and still selective
  }

  test("filter is key-set deterministic: same keys, same bits") {
    val a = Bloom.build((1 to 100).map(_.toLong).toDF("k").repartition(1), "k",
      mBits = 1 << 10, k = 3).as[Seq[Long]].head()
    val b = Bloom.build((1 to 100).reverse.map(_.toLong).toDF("k").repartition(8), "k",
      mBits = 1 << 10, k = 3).as[Seq[Long]].head()
    assert(a === b)
    assert(a.length === (1 << 10) / 64)
  }
}
