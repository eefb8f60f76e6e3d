package graft

import org.apache.spark.sql.functions._

import graft.ingest.MergeFastDocs
import graft.model.{FastDoc, MediaRecord}
import graft.ops.{Dedup, Multimodal, Similarity}
import graft.queries.QueryHelpers.scratchDir

/** Unit tests for the LLM-pipeline operators and the typed merge. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- merge

  private def doc(id: Int, typ: String, pref: String, alts: Seq[String]) =
    FastDoc(id, id, typ, pref, alts, Nil, Nil, alts.map(_.toLowerCase))

  test("MergeFastDocs: richer doc's type wins; arrays union sorted") {
    val a = doc(1, "Topical", "A Long Preferred Label", Seq("Alt1", "Alt2"))
    val b = doc(1, "Event", null, Seq("Alt3"))
    val m = MergeFastDocs.merge2(a, b)
    assert(m.`type` === "Topical")
    assert(m.prefLabel === "A Long Preferred Label")
    assert(m.altLabel === Seq("Alt1", "Alt2", "Alt3"))
  }

  test("MergeFastDocs: buffer merge is commutative and associative") {
    val Seq(x, y, z) = Seq(
      doc(1, "Topical", "PrefA", Seq("x")),
      doc(1, "Event", "PrefB", Seq("y", "z")),
      doc(1, "Form", null, Seq("w"))).map(MergeFastDocs.toBuf)
    assert(MergeFastDocs.mergeBuf(x, y) === MergeFastDocs.mergeBuf(y, x))
    assert(MergeFastDocs.mergeBuf(MergeFastDocs.mergeBuf(x, y), z)
      === MergeFastDocs.mergeBuf(x, MergeFastDocs.mergeBuf(y, z)))
  }

  test("MergeFastDocs: Aggregator result independent of partitioning") {
    val docsSeq = Seq(
      doc(1, "Topical", "PrefA", Seq("x")),
      doc(1, "Event", "PrefB", Seq("y", "z")),
      doc(1, "Form", null, Seq("w")),
      doc(2, "Event", null, Seq("only")))
    def run(parts: Int) =
      spark.createDataset(docsSeq).repartition(parts)
        .groupByKey(_._id).agg(MergeFastDocs.toColumn.name("doc"))
        .map(_._2).collect().sortBy(_._id).toSeq
    assert(run(1) === run(4))
  }

  test("MergeFastDocs: prefLabel filled from poorer doc when richer lacks it") {
    val rich = doc(1, "Topical", null, Seq("Alt1", "Alt2", "Alt3"))
    val poor = doc(1, "Event", "OnlyPref", Nil)
    assert(MergeFastDocs.merge2(rich, poor).prefLabel === "OnlyPref")
  }

  // ---------------------------------------------------------------- dedup

  test("shingles: distinct word 3-grams; short docs empty") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x y z x y z x y z")).toDF("id", "text")
    val out = df.select($"id", Dedup.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) === Seq("a b c", "b c d"))
    assert(out(2L) === Seq.empty)
    assert(out(3L).sorted === Seq("x y z", "y z x", "z x y")) // distinct despite repeats
  }

  test("minhash: identical texts get identical signatures, disjoint texts differ") {
    val df = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(i => r.getLong(i))).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(3L))
  }

  test("minhash candidates: exact dup pair found with est_jaccard 1.0") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "unrelated text with totally different tokens inside")).toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(
      Dedup.minhashSignature(df, "text", "doc_id"), "doc_id").collect()
    assert(cand.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      === Seq((1L, 2L, 1.0)))
  }

  test("simhash: identical texts equal; near-identical texts close in hamming") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8"), (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 zz")).toDF("doc_id", "text")
    val sh = Dedup.simhash(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) === sh(2L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming > 0 && hamming < 20, s"hamming=$hamming")
  }

  test("md5_long matches the hex-string form bit for bit") {
    val df = Seq("hello", "", "1:a b c", "Dvořák").toDF("s")
    val out = df.select(
      Dedup.md5Int($"s").as("fast8"),
      expr("CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)").as("ref8"),
      Dedup.md5Int60($"s").as("fast15"),
      expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("ref15")).collect()
    out.foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  // ---------------------------------------------------------------- similarity

  test("cosine: orthogonal → 0, identical → 1") {
    val df = Seq(
      (Seq(1f, 0f), Seq(0f, 1f)),
      (Seq(1f, 2f), Seq(1f, 2f))).toDF("a", "b")
    val cos = df.select(Similarity.cosine("a", "b").as("c")).collect().map(_.getDouble(0))
    assert(math.abs(cos(0)) < 1e-12)
    assert(math.abs(cos(1) - 1.0) < 1e-12)
  }

  test("lshTopK finds the exact nearest neighbor when it shares the bucket") {
    val base = (0 until 32).map(_.toFloat)
    val near = base.updated(0, 0.1f)
    val far = (0 until 32).map(i => ((i * 7919) % 13 - 6).toFloat)
    val corpus = Seq((1L, base), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val q = Seq((1L, base)).toDF("q_id", "q_emb")
    val out = Similarity.lshTopK(corpus, q, "vec_id", "embedding", "q_id", "q_emb",
      dim = 32, k = 1, numPlanes = 2).collect()
    assert(out.head.getAs[Long]("neighbor_id") === 2L)
  }

  test("ivf multi-probe finds cross-boundary neighbors single-probe misses") {
    // two tight clusters; query sits in cluster A but its true nearest
    // neighbor leans toward B's centroid — invisible at nprobe=1
    def v(xs: Float*) = xs.toSeq
    val corpus = Seq(
      (0L, v(1f, 0f, 0f, 0f)), // centroid seed A
      (1L, v(0f, 1f, 0f, 0f)), // centroid seed B
      (10L, v(0.71f, 0.7f, 0f, 0f)), // query: assigned A by a hair
      (11L, v(0.68f, 0.73f, 0f, 0f)), // nearest to query, assigned B
      (12L, v(1f, 0.2f, 0f, 0f))) // in A, much further from query
      .toDF("vec_id", "embedding")
    val cents = corpus.where(col("vec_id") < 2)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
    def top1(nprobe: Int) = Similarity.ivfTopK(corpus,
        a => a.where(col("vec_id") === 10L),
        "vec_id", "embedding", cents, "c_id", "c_emb", k = 1, nprobe = nprobe)
      .collect().map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cos")).head
    val (n1, c1) = top1(1)
    val (n2, c2) = top1(2)
    assert(n1 === 12L) // best within A only
    assert(n2 === 11L) // true nearest, found via the second probe
    assert(c2 > c1) // bigger candidate set can only improve top-k quality
  }

  test("mmrSelect: diversity penalty demotes the redundant runner-up") {
    // rels: a=0.9, b=0.88, c=0.7; b is near-duplicate of a (sim 0.99),
    // c is orthogonal. Pure relevance picks (a, b); MMR picks (a, c):
    // step2 score(b) = .7*.88 - .3*.99 = .319 < score(c) = .7*.7 - 0 = .49
    val picks = Similarity.mmrSelect(
      ids = IndexedSeq(1L, 2L, 3L), rels = IndexedSeq(0.9, 0.88, 0.7),
      sims = Map((1L, 2L) -> 0.99, (1L, 3L) -> 0.0, (2L, 3L) -> 0.0),
      k = 2, lambda = 0.7, mu = 0.3)
    assert(picks.map(_.id) == Seq(1L, 3L))
    assert(picks.map(_.step) == Seq(1, 2))
    assert(math.abs(picks(1).score - 0.49) < 1e-12)
  }

  test("mmrSelect: k beyond candidates stops; ties break to smaller id") {
    val picks = Similarity.mmrSelect(
      ids = IndexedSeq(5L, 9L), rels = IndexedSeq(0.5, 0.5),
      sims = Map((5L, 9L) -> 0.0), k = 10, lambda = 0.7, mu = 0.3)
    assert(picks.map(_.id) == Seq(5L, 9L))
    assert(picks.length == 2)
  }

  test("mmrRerank equals a reference greedy on a small frame") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val cand = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding",
        "q_id", "q_emb", 10, dim = 64)
      .select(col("q_id"), col("neighbor_id").as("id"), col("cos").as("rel"))
    val got = Similarity.mmrRerank(emb, cand, "vec_id", "embedding",
        "q_id", "id", "rel", k = 3, lambda = 0.7, mu = 0.3)
    // structural laws: k rows per query, steps 1..k, no repeats, step-1
    // pick is the relevance argmax, scores non-increasing per query
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 3 && byQ.values.forall(_.length == 3))
    byQ.foreach { case (qid, ps) =>
      val sorted = ps.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == Seq(1, 2, 3))
      assert(sorted.map(_._2).distinct.length == 3)
      val top1 = cand.where(col("q_id") === qid)
        .orderBy(col("rel").desc, col("id")).limit(1)
        .collect()(0).getLong(1)
      assert(sorted.head._2 == top1, s"step-1 pick for q=$qid")
    }
  }

  test("hardNegatives: only different-label rows, ranked by cosine") {
    // anchor in label A; nearest overall is same-label (must be skipped),
    // nearest different-label must rank 1
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f), "A"),
      (2L, Seq(0.99f, 0.1f, 0f), "A"),  // closest overall — same label
      (3L, Seq(0.9f, 0.3f, 0f), "B"),   // closest negative
      (4L, Seq(0.5f, 0.8f, 0f), "B"),
      (5L, Seq(0f, 0f, 1f), "C")).toDF("vec_id", "embedding", "label")
    val q = corpus.where(col("vec_id") === 1L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val out = Similarity.hardNegatives(corpus, q, "vec_id", "embedding",
        "label", "q_id", "q_emb", "q_label", 2)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(3L, 4L))
    assert(out.forall(_.getAs[String]("neg_label") != "A"))
  }

  test("labelOutliers: planted mislabel scores lowest; singleton label dropped") {
    // label A = tight cluster around e1 plus one flipped vector (the
    // plant); label B = a singleton (no leave-one-out centroid)
    val rows = Seq(
      (1L, Seq(1f, 0.01f, 0f), "A"),
      (2L, Seq(1f, -0.01f, 0f), "A"),
      (3L, Seq(0.99f, 0f, 0.02f), "A"),
      (4L, Seq(-1f, 0f, 0.01f), "A"), // planted mislabel
      (5L, Seq(0f, 1f, 0f), "B")).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(rows, "vec_id", "embedding", "label")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("loo_cos")).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L)) // singleton B dropped
    assert(out(4L) < 0, s"plant should anti-align with its LOO centroid: $out")
    assert(Seq(1L, 2L, 3L).forall(id => out(id) > 0.9), out.toString)
    assert(out.values.min === out(4L))
  }

  test("labelOutliers: leave-one-out, not self-inclusive (2-member label)") {
    // with self-inclusion both members of an antipodal pair would score
    // ~0 against the near-zero mean; leave-one-out scores each against
    // exactly the OTHER vector → cos = −1
    val rows = Seq(
      (1L, Seq(1f, 0f), "A"),
      (2L, Seq(-1f, 0f), "A")).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelOutliers(rows, "vec_id", "embedding", "label")
      .collect().map(_.getAs[Double]("loo_cos"))
    assert(out.length === 2)
    out.foreach(c => assert(math.abs(c + 1.0) < 1e-12, out.mkString(",")))
  }

  test("shardAssignment: deterministic, partitioning-independent, dense positions") {
    import graft.ops.Layout
    val ids = (1 to 500).map(_.toLong)
    def run(parts: Int) =
      Layout.shardAssignment(
          spark.sparkContext.parallelize(ids, parts).toDF("doc_id"), "doc_id", 8)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"), r.getAs[Int]("pos")))
        .sortBy(_._1).toSeq
    val a = run(1)
    assert(a === run(7)) // pure function of the key, not of layout
    val byShard = a.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // positions are 1..n dense within every shard
    byShard.values.foreach { s =>
      assert(s.map(_._3).sorted === (1 to s.size).toSeq)
    }
    // hash balance: no shard is pathologically loaded (500/8 ≈ 62)
    assert(byShard.values.map(_.size).max < 100)
  }

  test("sphericalKMeans separates well-separated clusters") {
    val rng = new scala.util.Random(7)
    def noisy(base: Seq[Float]) = base.map(v => v + rng.nextFloat() * 0.01f)
    val basis = Seq(
      (0 until 16).map(d => if (d < 5) 1f else 0f),
      (0 until 16).map(d => if (d >= 5 && d < 10) 1f else 0f),
      (0 until 16).map(d => if (d >= 10) 1f else 0f))
    // ids 0..2 are one point from each cluster (the seeds); rest follow
    val rows = (0 until 30).map(i => (i.toLong, noisy(basis(i % 3))))
    val corpus = rows.toDF("vec_id", "embedding")
    val out = Similarity.sphericalKMeans(corpus, "vec_id", "embedding", k = 3, iterations = 3)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    // all members of a ground-truth group share a cluster; groups differ
    val byGroup = (0 until 3).map(g => (0 until 30).filter(_ % 3 == g).map(i => out(i.toLong)).distinct)
    assert(byGroup.forall(_.size === 1), s"groups split: $byGroup")
    assert(byGroup.flatten.distinct.size === 3)
  }

  // ---------------------------------------------------- iterative hygiene

  test("connectedComponents: min-label clusters over chain + clique + isolate pair") {
    // chain 1-2-3-4, clique {10,11,12}, pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents matches brute-force union-find on random graphs") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
    }
    for (seed <- Seq(7, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      // sparse random graph: expected several multi-node components + chains
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = unionFind(n, edges)
      // the local-endgame path (default bound) and the pure distributed
      // fixpoint (withBound(0)) must agree, and match union-find
      val got = Endgame.agree("connectedComponents")(
        Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(got === expected, s"seed=$seed: connectedComponents diverges from union-find")
    }
  }

  test("ngramJaccardFor == ngramCandidates restricted to the given pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val est = Dedup.minhashCandidates(
      Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id", threshold = 0.25)
    val full = Dedup.ngramCandidates(docs, "text", "doc_id",
        k = 3, dfCap = 100, threshold = 0.0)
      .join(est.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val targeted = Dedup.ngramJaccardFor(est, docs, "text", "doc_id",
        k = 3, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(targeted === full, "pair-keyed exact Jaccard diverges from the self-join")
    assert(targeted.nonEmpty)
  }

  test("unionFindMinLabel: edge-order independent, min-of-component labels") {
    val edges = Seq((5L, 3L), (9L, 5L), (2L, 8L), (8L, 2L), (7L, 7L))
      .filter(e => e._1 != e._2)
    val a = Dedup.unionFindMinLabel(edges.iterator).toMap
    val b = Dedup.unionFindMinLabel(edges.reverse.iterator).toMap
    assert(a === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 2L -> 2L, 8L -> 2L))
    assert(a === b)
  }

  test("incrementalMinhashDups: incoming batch checked against stored only") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven"),
      (1L, "alpha beta gamma delta epsilon zeta"), // incoming copy of stored 0
      (3L, "totally different words over here now")) // novel incoming
      .toDF("id", "text")
    val sig = Dedup.minhashSignature(docs, "text", "id")
    val out = Dedup.incrementalMinhashDups(
        sig.where(col("id") % 2 === 0), sig.where(col("id") % 2 === 1),
        "id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // only the (incoming 1, stored 0) pair — identical signatures; the
    // novel doc matches nothing and stored docs are never paired together
    assert(out === Seq((1L, 0L, 1.0)))
  }

  test("keepBest: highest quality per cluster, ties to smallest id") {
    val rows = Seq(
      (1L, 10L, 5L), (2L, 10L, 9L), (3L, 10L, 9L), // tie at q=9 → id 2
      (4L, 20L, 1L)) // singleton cluster
      .toDF("id", "cluster", "q")
    for (parts <- Seq(1, 7)) {
      val out = Dedup.keepBest(rows.repartition(parts), "cluster", "id", "q")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out === Map(10L -> ((2L, 9L)), 20L -> ((4L, 1L))), s"parts=$parts")
    }
  }

  test("winnowFingerprints: digest is content-determined, short docs zeroed") {
    val long1 = "the quick brown fox jumps over the lazy dog"
    val docs = Seq((1L, long1), (2L, long1), (3L, "entirely different words here today"),
      (4L, "tiny")).toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val out = Dedup.winnowFingerprints(docs.repartition(parts), "text", "doc_id")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(out(1L) === out(2L), s"parts=$parts")      // same text → same digest
      assert(out(1L)._1 > 0, s"parts=$parts")
      assert(out(1L) !== out(3L), s"parts=$parts")
      assert(out(4L) === ((0L, 0L)), s"parts=$parts")   // < k+w−1 chars
    }
  }

  test("winnowFingerprints: density — every w consecutive gram positions yield a selection") {
    // winnowing's guarantee rests on ≥1 fingerprint per window of w
    // hashes; with w=4, k=8 a doc with P gram positions has P−w+1
    // windows but selections dedup, so n_fp ∈ [⌈(P−w+1)/w⌉, P−w+1]
    val text = (1 to 30).map(i => s"tok$i").mkString(" ") // long, no repeats
    val p = text.length - 7
    val nFp = Dedup.winnowFingerprints(
      Seq((1L, text)).toDF("doc_id", "text"), "text", "doc_id")
      .collect().head.getLong(1)
    assert(nFp >= (p - 3 + 3) / 4 && nFp <= p - 3)
  }

  test("winnowPairs: containment found, unrelated docs silent") {
    val core = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, core),
      (2L, s"prefix words first $core suffix words after"), // contains doc 1
      (3L, "completely unrelated content with different characters entirely"))
      .toDF("doc_id", "text")
    val out = Dedup.winnowPairs(docs, "text", "doc_id",
        dfCap = 10, minShared = 1, minContainBp = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    // doc 1's interior selections reappear inside doc 2 (winnowing's
    // guarantee); only boundary windows can differ
    assert(out.contains((1L, 2L)))
    assert(out((1L, 2L)) >= 5000L, s"contain_bp = ${out((1L, 2L))}")
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("winnowPairs: SWA guarantee — any planted (w+k−1)-char verbatim overlap is found") {
    // Schleimer-Wilkerson-Aiken: with gram size k and window w, ANY
    // verbatim overlap of ≥ w+k−1 chars shares ≥1 selected fingerprint.
    // Plant exactly-threshold overlaps into random docs (seeded), assert
    // every planted pair is found with no df cap in the way. k=8, w=4
    // (the defaults) → threshold 11 chars.
    val rnd = new scala.util.Random(42)
    def randDoc(len: Int): String =
      (1 to len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val planted = (0 until 10).map { i =>
      val shared = randDoc(11)
      val (a, b) = (randDoc(40), randDoc(40))
      val posA = rnd.nextInt(a.length)
      val posB = rnd.nextInt(b.length)
      (100L + 2 * i, a.substring(0, posA) + shared + a.substring(posA),
        101L + 2 * i, b.substring(0, posB) + shared + b.substring(posB))
    }
    val docs = planted.flatMap { case (ia, ta, ib, tb) => Seq((ia, ta), (ib, tb)) }
      .toDF("doc_id", "text")
    val found = Dedup.winnowPairs(docs, "text", "doc_id",
        dfCap = 1000, minShared = 1, minContainBp = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { case (ia, _, ib, _) =>
      assert(found((ia, ib)), s"planted overlap ($ia,$ib) missed — SWA guarantee broken")
    }
  }

  test("simhashPairs: equals brute force for hamming ≤ bands−1 (lossless banding)") {
    val rnd = new scala.util.Random(5)
    val words = (1 to 30).map(i => s"w$i")
    val base = (1 to 40).map { i =>
      (i.toLong, (1 to 30).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    // planted twins (hamming 0) and one-word edits (small hamming) keep
    // the equality non-vacuous
    val docs = (base ++ base.take(5).map { case (i, t) => (i + 100, t) }
      ++ base.take(5).map { case (i, t) => (i + 200, t.replaceFirst("\\w+", "zz")) })
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(expect.nonEmpty, "planted twins must produce at least one pair")
    val got = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expect)
  }

  test("cosinePairs: identical and scaled docs hit cos²=10⁴, df-cap drops stopwords") {
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),   // identical
      (3L, "alpha alpha beta"), (4L, "alpha alpha alpha alpha beta beta"), // scaled
      (5L, "unrelated terms entirely")).toDF("doc_id", "text")
    val out = Dedup.cosinePairs(docs, "text", "doc_id", minCos2Bp = 9000, dfCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(out((1L, 2L)) === 10000L)
    assert(out((3L, 4L)) === 10000L)  // colinear tf vectors
    assert(!out.keySet.exists { case (a, b) => a == 5L || b == 5L })
    // df-cap: "alpha" appears in 4 docs; cap 3 removes it from the index,
    // so docs 3/4 (mostly alpha) lose their dominant component
    val capped = Dedup.cosinePairs(docs, "text", "doc_id", minCos2Bp = 9000, dfCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(capped((1L, 2L)) === 10000L) // beta/gamma still carry the identical pair
  }

  test("dedupSegments: one global copy per segment, keep-first, order preserved") {
    val docs = Seq(
      (1L, "a b c d"),   // wins both its segments
      (2L, "a b e f"),   // "a b" already taken by doc 1 → only "e f" survives
      (3L, "c d"))       // "c d" taken by doc 1 → empty
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 7)) {
      val out = Dedup.dedupSegments(docs.repartition(parts), "text", "doc_id")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(out(1L) === ((2L, 2L, "a b c d")), s"parts=$parts")
      assert(out(2L) === ((2L, 1L, "e f")), s"parts=$parts")
      assert(out(3L) === ((1L, 0L, "")), s"parts=$parts")
    }
  }

  test("winnow_fps native expression == relational winnowing formulation") {
    // short docs (below k+w-1), exact-threshold lengths, repeats, unicode
    // (multi-byte chars exercise substringSQL char semantics), empties
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "aaaaaaaaaaaaaaaaaaaaa"),
      (4L, "abcdefghij"),          // 10 chars < k+w-1=11 → no selections
      (5L, "abcdefghijk"),         // exactly 11 → one window
      (6L, "héllo wörld déjà vu encore une fois"),
      (7L, ""),
      (8L, "x")).toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val d = docs.repartition(parts)
      val native = Dedup.winnowSelections(d, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = Dedup.winnowSelectionsPlan(d, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(native === plan, s"parts=$parts")
      assert(native.exists(_._1 == 5L) && !native.exists(_._1 == 4L))
    }
  }

  test("word_gram_hashes == interpreted transform/slice/array_join/md5_long form") {
    // unicode multibyte (byte-slice path must respect UTF-8), empty string,
    // consecutive/leading/trailing spaces (split(' ', -1) empty tokens),
    // exactly-k and below-k token counts
    val docs = Seq(
      (1L, "a b c d e x"),
      (2L, "héllo wörld déjà vu encore une fois"),
      (3L, ""),
      (4L, "a  b   c d"),     // empty tokens from space runs
      (5L, " leading and trailing "),
      (6L, "one two three"),  // exactly k=3
      (7L, "one two"))        // below k → empty
      .toDF("doc_id", "text")
    for (k <- Seq(1, 3, 5)) {
      val got = docs.select(col("doc_id"),
          expr(s"word_gram_hashes(text, $k, 15)").as("g"),
          split(col("text"), " ").as("_ws"))
        .withColumn("want", expr(
          s"""CASE WHEN size(_ws) < $k THEN array()
             | ELSE transform(sequence(0, size(_ws) - $k),
             |   i -> md5_long(array_join(slice(_ws, i + 1, $k), ' '), 15))
             | END""".stripMargin))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](3),
          s"doc=${r.getLong(0)} k=$k")
      }
    }
  }

  test("stitchCandidates: boundary overlap detected, caps and short docs excluded") {
    val docs = Seq(
      (1L, "a b c d e"),        // tail "c d e"
      (2L, "c d e f g"),        // head "c d e" → (1,2); tail "e f g"
      (3L, "e f g h i"),        // head "e f g" → (2,3)
      (4L, "x y"),              // < k tokens → never a candidate
      (5L, "q r s t c d e"))    // tail "c d e" too → (5,2)
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 4)) {
      val got = Dedup.stitchCandidates(docs.repartition(parts), "text", "doc_id", k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got === Set((1L, 2L, "c d e"), (5L, 2L, "c d e"), (2L, 3L, "e f g")),
        s"parts=$parts")
    }
    // a doc whose head == its own tail must not pair with itself
    val self = Seq((1L, "a b c a b c"), (2L, "a b c z z z")).toDF("doc_id", "text")
    val gotSelf = Dedup.stitchCandidates(self, "text", "doc_id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotSelf === Set((1L, 2L)))
    // cap: a boundary gram shared by more heads than `cap` is dropped
    val hot = (1L to 5L).map(i => (i, s"u$i v$i w$i p q r")) ++ // 5 tails "p q r"
      (10L to 12L).map(i => (i, "p q r x y z"))                 // 3 heads "p q r"
    val capped = Dedup.stitchCandidates(hot.toDF("doc_id", "text"), "text", "doc_id",
      k = 3, cap = 4)
    assert(capped.count() === 0L) // tail-side df 5 > cap 4 → excluded
    val uncapped = Dedup.stitchCandidates(hot.toDF("doc_id", "text"), "text", "doc_id",
      k = 3, cap = 5)
    assert(uncapped.count() === 15L) // 5 tails × 3 heads
  }

  test("dedupSpans: duplicated k-token spans removed keep-first, shifts caught") {
    val docs = Seq(
      (1L, "a b c d e x"),       // first copy of the span "a b c d e" — kept whole
      (2L, "q a b c d e r"),     // same span, SHIFTED one token right → still caught
      (3L, "a b c d f"),         // shares only a 4-gram with doc 1 → untouched at k=5
      (4L, "a b c d e"))         // nothing but the span → fully removed
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 7)) {
      val out = Dedup.dedupSpans(docs.repartition(parts), "text", "doc_id", k = 5)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(out(1L) === ((6L, 6L, "a b c d e x")), s"parts=$parts")
      assert(out(2L) === ((7L, 2L, "q r")), s"parts=$parts")
      assert(out(3L) === ((5L, 5L, "a b c d f")), s"parts=$parts")
      assert(out(4L) === ((5L, 0L, "")), s"parts=$parts")
    }
    // within-document repetition: the SECOND copy inside the same doc loses
    val self = Seq((1L, "u v w x y z u v w x y z")).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(self, "text", "doc_id", k = 6)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(got === ((12L, 6L, "u v w x y z")))
    // docs shorter than k tokens are never candidates and never removed
    val tiny = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val kept = Dedup.dedupSpans(tiny, "text", "doc_id", k = 5)
      .collect().map(r => r.getLong(2)).toSeq
    assert(kept === Seq(2L, 2L))
  }

  test("span dedup three ways: md5 grams = exact grams = suffix-array runs") {
    // every dedupSpans behavior case plus the shifted/self-repeat shapes
    val docs = Seq(
      (1L, "a b c d e x"),
      (2L, "q a b c d e r"),
      (3L, "a b c d f"),
      (4L, "a b c d e"),
      (5L, "u v w x y z u v w x y z"),
      (6L, "a b"),
      (7L, "m n o p q r s t m n o p q r s t u"))
      .toDF("doc_id", "text")
    for (k <- Seq(5, 6)) {
      // pipelines 1 & 2 share only the rebuild tail: hash keys vs raw
      // string keys; identical wherever md5(60-bit) cannot collide
      val approx = Dedup.dedupSpans(docs, "text", "doc_id", k = k)
        .orderBy("doc_id").collect().toSeq
      val exact = Dedup.dedupSpansExact(docs, "text", "doc_id", k = k)
        .orderBy("doc_id").collect().toSeq
      assert(exact === approx, s"k=$k")

      // pipeline 4, the composed operator (Dedup.dedupSpansSa): SA +
      // capped LCP (cap = k, no escalation) + per-run winner selection —
      // must land on the identical table
      val viaSa = Dedup.dedupSpansSa(docs, "text", "doc_id", k = k)
        .orderBy("doc_id").collect().toSeq
      assert(viaSa === exact, s"k=$k (dedupSpansSa)")

      // pipeline 3, entirely different machinery: duplicated-k-gram
      // groups recomputed as SUFFIX-ARRAY runs with neighbor LCP >= k
      // (suffixes sharing a k-prefix are SA-contiguous); the losing
      // (id, pos) gram starts must match the exact-gram derivation
      val sa = graft.ops.SuffixArray.build(docs, "text", "doc_id",
        startPrefix = 4)
      val lcp = graft.ops.SuffixArray.lcpNeighbors(docs, "text", "doc_id", sa)
      val bnd = sa.join(
          lcp.select(col("nbr_id").as("_ni"), col("nbr_pos").as("_np"),
            col("lcp").as("_plcp")),
          col("doc_id") === col("_ni") && col("pos") === col("_np"), "left")
        .select(col("doc_id"), col("pos"), col("sa_rank"),
          when(col("_plcp").isNull || col("_plcp") < k, 1L).otherwise(0L).as("_b"))
      val runs = graft.ops.Rank.globalCumSum(bnd, Seq(col("sa_rank")), "_b", "_run")
      val saLosing = runs
        .join(runs.groupBy("_run")
          .agg(count(lit(1)).as("_n"), min(struct(col("doc_id"), col("pos"))).as("_w"))
          .where(col("_n") >= 2)
          .select(col("_run").as("_r2"), col("_w.doc_id").as("_wid"),
            col("_w.pos").as("_wpos")),
          col("_run") === col("_r2"))
        .where(!(col("doc_id") === col("_wid") && col("pos") === col("_wpos")))
        .select("doc_id", "pos").as[(Long, Long)].collect().toSet
      val gramLosing = docs.select(col("doc_id"),
          posexplode(call_function("word_grams", col("text"), lit(k)))
            .as(Seq("gpos", "gh")))
        .withColumn("gpos", col("gpos").cast("long"))
        .join(
          docs.select(col("doc_id").as("_d2"),
              posexplode(call_function("word_grams", col("text"), lit(k)))
                .as(Seq("_p2", "_g2")))
            .groupBy("_g2")
            .agg(count(lit(1)).as("_c"),
              min(struct(col("_d2"), col("_p2").cast("long").as("_p2"))).as("_m"))
            .where(col("_c") >= 2),
          col("gh") === col("_g2"))
        .where(!(col("doc_id") === col("_m._d2") && col("gpos") === col("_m._p2")))
        .select("doc_id", "gpos").as[(Long, Long)].collect().toSet
      assert(saLosing === gramLosing, s"k=$k")
    }
  }

  test("dedupSpansSaIncremental equals the full recompute, including " +
      "out-of-order batches that dethrone a prior winner") {
    val stored = Seq(
      (10L, "a b c d e x"),          // prior winner of "a b c d e"
      (12L, "q a b c d e r"),        // prior loser (covered in state)
      (13L, "a b c d f"),            // 4-gram overlap only at k=5
      (20L, "m n o p q r s t"))      // unique in prior corpus
      .toDF("doc_id", "text")
    // the batch UNDERCUTS prior ids: doc 1 dethrones doc 10 as the
    // winner of "a b c d e" (old doc 10's output must change), doc 2
    // duplicates the previously-UNIQUE doc-20 span, and docs 3/4 carry
    // an in-batch-only duplicate
    val batch = Seq(
      (1L, "z a b c d e"),
      (2L, "m n o p q r s t w"),
      (3L, "j k l m n p q v"),
      (4L, "h j k l m n p q"))
      .toDF("doc_id", "text")
    for (k <- Seq(5, 6)) {
      val inc = graft.ops.Dedup.dedupSpansSaIncremental(stored, batch,
          "text", "doc_id", k,
          priorIndex = graft.ops.Dedup.spanGramIndex(stored, "text", "doc_id", k),
          priorCovered = graft.ops.Dedup.spanCovered(stored, "text", "doc_id", k))
        .orderBy("doc_id").collect().toSeq
      val full = graft.ops.Dedup.dedupSpansSa(stored.unionByName(batch),
          "text", "doc_id", k)
        .orderBy("doc_id").collect().toSeq
      assert(inc === full, s"k=$k")
    }
    // state handoff soundness (the production contract, advice r15): the
    // WithState variant's nextIndex is row-equal to a full index rebuild
    // of the union, and nextCovered covers exactly the union's covered
    // set — so chaining appends needs no corpus rescan, ever
    val union = stored.unionByName(batch)
    val res = graft.ops.Dedup.dedupSpansSaIncrementalWithState(stored, batch,
      "text", "doc_id", 5,
      priorIndex = graft.ops.Dedup.spanGramIndex(stored, "text", "doc_id", 5),
      priorCovered = graft.ops.Dedup.spanCovered(stored, "text", "doc_id", 5))
    val mergedIdx = res.nextIndex.orderBy("gram").collect().toSeq
    val fullIdx = graft.ops.Dedup.spanGramIndex(union, "text", "doc_id", 5)
      .orderBy("gram").collect().toSeq
    assert(mergedIdx === fullIdx)
    val incCov = res.nextCovered.select("doc_id", "pos")
      .distinct().orderBy("doc_id", "pos").collect().toSeq
    val fullCov = graft.ops.Dedup.spanCovered(union, "text", "doc_id", 5)
      .distinct().orderBy("doc_id", "pos").collect().toSeq
    assert(incCov === fullCov)
    // and a SECOND append chained off the returned state still equals the
    // from-scratch recompute — the closure property a deploy relies on
    val batch2 = Seq((30L, "a b c d e tail"), (31L, "fresh words only here"))
      .toDF("doc_id", "text")
    val inc2 = graft.ops.Dedup.dedupSpansSaIncremental(union, batch2,
        "text", "doc_id", 5,
        priorIndex = res.nextIndex, priorCovered = res.nextCovered)
      .orderBy("doc_id").collect().toSeq
    val full2 = graft.ops.Dedup.dedupSpansSa(union.unionByName(batch2),
        "text", "doc_id", 5)
      .orderBy("doc_id").collect().toSeq
    assert(inc2 === full2)
  }

  test("dedupSpansSaRetract equals the full recompute over the survivors, " +
      "restores text for grams that became unique, and chains with appends") {
    val corpus = Seq(
      (1L, "a b c d e x"),          // winner of "a b c d e" — will be REMOVED
      (2L, "q a b c d e r"),        // covered loser; dethroned-to-winner after retract
      (3L, "p a b c d e s"),        // second loser; must STAY covered (2 survives as winner)
      (4L, "m n o p q r s t"),      // duplicated only with doc 5
      (5L, "m n o p q r s t w"),    // REMOVED: doc 4's span becomes unique -> full restore
      (6L, "u v w x y z a1 b1"))    // untouched
      .toDF("doc_id", "text")
    val rem = Seq(1L, 5L).toDF("doc_id")
    val res = graft.ops.Dedup.dedupSpansSaRetractWithState(corpus, rem,
      "text", "doc_id", 5,
      priorOcc = graft.ops.Dedup.spanOccurrences(corpus, "text", "doc_id", 5),
      priorCovered = graft.ops.Dedup.spanCovered(corpus, "text", "doc_id", 5))
    val survivors = corpus.where(!col("doc_id").isin(1L, 5L))
    val inc = res.cleaned.orderBy("doc_id").collect().toSeq
    val full = graft.ops.Dedup.dedupSpansSa(survivors, "text", "doc_id", 5)
      .orderBy("doc_id").collect().toSeq
    assert(inc === full)
    // doc 4 regained everything; doc 2 is the new winner (kept); doc 3 lost
    val byId = inc.map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(byId(4L) === 8L, "span became unique but text not restored")
    assert(byId(2L) === 7L, "dethroned successor should keep its text")
    assert(byId(3L) < 7L, "second loser must stay covered")
    // returned state is CLOSED under a further append
    val batch = Seq((10L, "a b c d e tail"), (11L, "fresh words only here"))
      .toDF("doc_id", "text")
    val inc2 = graft.ops.Dedup.dedupSpansSaIncremental(survivors, batch,
        "text", "doc_id", 5,
        priorIndex = graft.ops.Dedup.spanIndexFromOccurrences(res.nextOcc),
        priorCovered = res.nextCovered)
      .orderBy("doc_id").collect().toSeq
    val full2 = graft.ops.Dedup.dedupSpansSa(survivors.unionByName(batch),
        "text", "doc_id", 5)
      .orderBy("doc_id").collect().toSeq
    assert(inc2 === full2)
    // and the occurrence state matches a from-scratch rebuild
    val occNext = res.nextOcc.orderBy("gram", "doc_id", "gpos").collect().toSeq
    val occFull = graft.ops.Dedup.spanOccurrences(survivors, "text", "doc_id", 5)
      .orderBy("gram", "doc_id", "gpos").collect().toSeq
    assert(occNext === occFull)
  }

  test("dedupClustersRetract: splits at articulation nodes, relabels on " +
      "minimum removal, leaves untouched clusters verbatim") {
    // synthetic signature table (8 components, band size 2 → bands are
    // component pairs; est jaccard = matches/8, threshold 0.25 needs one
    // full band). Cluster A chained 1-2-3 (2 is the articulation node),
    // cluster B {20,21,22} fully banded, cluster C {30,31} untouched.
    def sig(id: Long, s: Seq[Int]) =
      (id, s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7))
    // unused components are id-unique (1000*id + i) so only the
    // deliberately-shared bands collide
    def pad(id: Long, pairs: Map[Int, Int]): Seq[Int] =
      (0 until 8).map(i => pairs.getOrElse(i, (1000 * id + i).toInt))
    val rows = Seq(
      sig(1L, pad(1L, Map(0 -> 10, 1 -> 11))),
      sig(2L, pad(2L, Map(0 -> 10, 1 -> 11, 2 -> 20, 3 -> 21))), // band0 w/ 1, band1 w/ 3
      sig(3L, pad(3L, Map(2 -> 20, 3 -> 21))),
      sig(20L, pad(20L, Map(0 -> 40, 1 -> 41, 4 -> 7, 5 -> 8))),
      sig(21L, pad(21L, Map(0 -> 40, 1 -> 41, 6 -> 2, 7 -> 3))),
      sig(22L, pad(22L, Map(4 -> 7, 5 -> 8, 6 -> 2, 7 -> 3))),
      sig(30L, pad(30L, Map(0 -> 60, 1 -> 61))),
      sig(31L, pad(31L, Map(0 -> 60, 1 -> 61))))
    val sigDf = rows.toDF("doc_id", "s0", "s1", "s2", "s3", "s4", "s5", "s6", "s7")
    val prior = Dedup.connectedComponents(
      Dedup.minhashCandidates(sigDf, "doc_id", threshold = 0.25), "a_id", "b_id")
    assert(prior.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (20L, 20L), (21L, 20L), (22L, 20L),
        (30L, 30L), (31L, 30L)))
    // remove 2 (splits A into singletons → both drop: no surviving pair)
    // and 20 (B relabels to 21)
    val rem = Seq(2L, 20L).toDF("doc_id")
    val got = Dedup.dedupClustersRetract(sigDf, rem, "doc_id", prior,
        threshold = 0.25)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val full = Dedup.connectedComponents(
      Dedup.minhashCandidates(sigDf.where(!col("doc_id").isin(2L, 20L)),
        "doc_id", threshold = 0.25), "a_id", "b_id")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === full)
    assert(got === Seq((21L, 21L), (22L, 21L), (30L, 30L), (31L, 30L)))
  }

  test("iterative ops release per-round storage (no block accumulation)") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.size
    val before = persisted
    // a long chain forces several label-propagation rounds
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    Dedup.connectedComponents(pairs, "a", "b").collect()
    // everything but the final round's labels must be freed
    assert(persisted <= before + 1, s"CC leaked cached rounds: $before -> $persisted")
    val mid = persisted
    val corpus = (0 until 20).map(i => (i.toLong,
      (0 until 8).map(d => if (d == i % 2) 1f else 0.1f))).toDF("vec_id", "embedding")
    Similarity.sphericalKMeans(corpus, "vec_id", "embedding", k = 2, iterations = 5).collect()
    assert(persisted <= mid + 1, s"kMeans leaked cached rounds: $mid -> $persisted")
  }

  test("withJobScopedCheckpoint: dir used, deleted after, previous dir restored") {
    import java.nio.file.{Files, Paths}
    val prev = spark.sparkContext.getCheckpointDir
    val scoped = scratchDir("graft_jobckpt").toString
    val result = GraftSession.withJobScopedCheckpoint(spark, scoped) { s =>
      // an Iterate-backed op writes its rounds under the scoped dir
      val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("a", "b")
      val n = Dedup.connectedComponents(pairs, "a", "b").count()
      assert(Files.list(Paths.get(scoped)).count() > 0, "scoped dir unused")
      n
    }
    assert(result === 20L)
    assert(!Files.exists(Paths.get(scoped)), "job-scoped checkpoint dir survived")
    // setCheckpointDir nests a fresh UUID dir, so assert the restored dir
    // is back under the previous root (not the scoped one)
    val restored = spark.sparkContext.getCheckpointDir
    assert(prev.zip(restored).forall { case (p, r) => r.startsWith(p) },
      s"previous dir not restored: $prev -> $restored")
  }

  test("cappedPerGroup: exact cap per group, choice independent of partitioning") {
    val rows = (1L to 100L).map(i => (i, s"g${i % 4}"))
    val expected = graft.ops.Sampling.cappedPerGroup(
        rows.toDF("id", "g"), "g", "id", 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(expected.groupBy(_._2).forall(_._2.size == 7))
    for (parts <- Seq(1, 13)) {
      val df = spark.sparkContext.parallelize(rows, parts).toDF("id", "g")
      val got = graft.ops.Sampling.cappedPerGroup(df, "g", "id", 7)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("kCenterCoreset matches the in-memory greedy reference; radius non-increasing") {
    val rnd = new scala.util.Random(41)
    val dim = 6
    val pts = (0L until 40L).map(i =>
      (i, Seq.fill(dim)(rnd.nextInt(201) - 100)))
    def d2(a: Seq[Int], b: Seq[Int]): Long =
      a.zip(b).map { case (x, y) => (x - y).toLong * (x - y) }.sum
    // reference: farthest-point traversal, ties to the smaller id
    def ref(k: Int): Seq[(Long, Long, Long)] = {
      val best = scala.collection.mutable.Map(pts.map(p => p._1 -> Long.MaxValue): _*)
      var out = Vector((1L, 0L, 0L))
      pts.foreach(p => best(p._1) = d2(p._2, pts(0)._2))
      (2 to k).foreach { r =>
        val (nid, nd) = pts.map(p => (p._1, best(p._1)))
          .maxBy { case (id, d) => (d, -id) }
        out :+= ((r.toLong, nid, nd))
        val nv = pts(nid.toInt)._2
        pts.foreach(p => best(p._1) = math.min(best(p._1), d2(p._2, nv)))
      }
      out
    }
    val got = graft.ops.Sampling.kCenterCoreset(
        pts.toDF("id", "q"), "id", "q", k = 6)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === ref(6))
    // covering radius never increases as centers accumulate
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a }, radii)
  }

  test("kCenterCoreset stops at radius 0 instead of re-emitting the seed") {
    // 10 rows, only 3 distinct vectors: k=6 must yield exactly 3 exemplars
    val pts = (0L until 10L).map(i => (i, Seq.fill(4)((i % 3).toInt * 10)))
    val got = graft.ops.Sampling.kCenterCoreset(
        pts.toDF("id", "q"), "id", "q", k = 6)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.size === 3, got)
    assert(got.map(_._2).distinct.size === 3)
    assert(got.last._3 > 0L) // every KEPT selection still carries a real radius
  }

  test("warm-start CC equals full recompute, including cross-cluster merges") {
    import graft.ops.Dedup
    // old edges: two chains {1..4} and {10..13}; a lone old pair {20,21}
    val oldE = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 13L), (20L, 21L)).toDF("a", "b")
    // new edges: a bridge MERGING the two chains (4-10), a brand-new
    // component {30,31}, and an attach to the lone pair (21-32)
    val newE = Seq((4L, 10L), (30L, 31L), (21L, 32L)).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prior = Dedup.connectedComponents(oldE, "a", "b")
    val warm = Dedup.connectedComponentsIncremental(
      prior, "node", "cluster_id", newE, "a", "b")
    val full = Dedup.connectedComponents(oldE.unionAll(newE), "a", "b")
    assert(rows(warm) === rows(full))
    // the merged chain must collapse to min id 1 across BOTH old clusters
    assert(rows(warm).filter(_._1 == 13L).head._2 === 1L)
    graft.ops.Iterate.releaseCheckpoint(prior)
    graft.ops.Iterate.releaseCheckpoint(warm)
    graft.ops.Iterate.releaseCheckpoint(full)
  }

  test("library dedup ops leave no persisted storage behind") {
    // clean slate incl. RDD-level blocks (see GraphSpec's twin test)
    GraftSession.releaseAll(spark)
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.size
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f g"),
      (3L, "x y z w q r s t u")).toDF("doc_id", "text")
    val results = Seq(
      Dedup.minhashCandidates(Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id"),
      Dedup.ngramCandidates(docs, "text", "doc_id"),
      Dedup.prefixJaccardJoin(docs, "text", "doc_id"),
      Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b"),
      Dedup.dedupSpans(docs, "text", "doc_id", k = 5),
      graft.ops.Rank.bm25TopTerms(docs, "text", "doc_id"))
    results.foreach(_.collect())
    // each op may leave exactly its RESULT's backing storage (caller-
    // releasable); anything beyond that is an intermediate leak
    results.foreach(graft.ops.Iterate.releaseCheckpoint)
    assert(sc.getPersistentRDDs.size === base,
      s"dedup/rank ops leaked persisted RDDs: ${sc.getPersistentRDDs.values.map(_.name)}")
  }

  test("z-order clustering: a 2-D rectangle touches few range partitions") {
    import graft.ops.Layout
    // full 64x64 grid; z-order into 16 range partitions
    val grid = (0 until 4096).map(i => (i.toLong % 64, i.toLong / 64)).toDF("a", "b")
    val boxes = Layout.zOrder(grid, col("a"), col("b"), partitions = 16, bits = 6)
      .select(col("a"), col("b"), spark_partition_id().as("pid"))
      .groupBy("pid")
      .agg(min("a").as("minA"), max("a").as("maxA"),
        min("b").as("minB"), max("b").as("maxB"))
      .collect()
    assert(boxes.length === 16)
    // the rectangle a,b in [0,7]^2 is 1/64 of the space; its 64 cells have
    // z < 64, contiguous at the front of the z range -> min/max stats
    // prune all but a couple of partitions
    val touched = boxes.count(r =>
      r.getAs[Long]("minA") <= 7 && r.getAs[Long]("minB") <= 7)
    assert(touched <= 3, s"rectangle touched $touched/16 partitions")
    // row-major layout baseline: every a-stripe contains b in [0,7], so
    // EVERY partition's box intersects the rectangle — z-order is what
    // makes the pruning possible
    val rowMajor = grid.repartitionByRange(16, col("a"), col("b"))
      .select(col("a"), col("b"), spark_partition_id().as("pid"))
      .groupBy("pid").agg(min("b").as("minB")).collect()
    assert(rowMajor.count(_.getAs[Long]("minB") <= 7) >= 14)
  }

  test("sizedWrite bounds file count and rows per file with disjoint key ranges") {
    import graft.ops.Layout
    val path = scratchDir("graft_sized").toString
    val rows = (1L to 10000L).toDF("k")
    Layout.sizedWrite(rows, path, col("k"), filesWanted = 4, maxRowsPerFile = 3000)
    val files = new java.io.File(path).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    // 4 range partitions of ~2500 rows each, under the 3000 cap → one
    // file per partition, no small-file storm
    assert(files.length >= 4 && files.length <= 8, s"got ${files.length} files")
    val perFile = files.map { f =>
      val d = spark.read.parquet(f)
      (d.count(), d.agg(min("k"), max("k")).collect().head)
    }
    assert(perFile.forall(_._1 <= 3000))
    // key ranges disjoint across files → min/max stats prune point lookups
    val ranges = perFile.map { case (_, r) => (r.getLong(0), r.getLong(1)) }
      .sortBy(_._1).toSeq
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    })
  }

  test("pack: sequential layout assigns window and offset, docs may straddle") {
    import graft.ops.Pack
    val docs = Seq(
      ("s1", 1L, 300L), ("s1", 2L, 300L), ("s1", 3L, 100L), // 2 straddles 512
      ("s2", 4L, 600L), ("s2", 5L, 10L)) // 4 longer than one window
      .toDF("shard", "doc_id", "n_tok")
    val out = Pack.sequential(docs, "n_tok", "doc_id", "shard", ctxLen = 512)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("start_tok"), r.getAs[Long]("bin_id"), r.getAs[Long]("offset_in_bin")))
      .toMap
    assert(out(1L) === ((0L, 0L, 0L)))
    assert(out(2L) === ((300L, 0L, 300L))) // starts in window 0, spills into 1
    assert(out(3L) === ((600L, 1L, 88L)))
    assert(out(4L) === ((0L, 0L, 0L))) // shards pack independently
    assert(out(5L) === ((600L, 1L, 88L)))
  }

  test("decontaminate: shared-shingle fraction flags benchmark leakage") {
    import graft.ops.Decontaminate
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // verbatim leak
      (2L, "a quick brown fox jumps over a sleeping cat"), // partial overlap
      (3L, "completely different content about spark engines here")) // clean
      .toDF("doc_id", "text")
    val out = Decontaminate.overlap(corpus, bench, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getInt(4))).toMap
    assert(out(1L) === ((1.0, 1))) // every shingle shared
    assert(out(2L)._1 > 0 && out(2L)._2 === 0) // some overlap, below threshold
    assert(out(3L) === ((0.0, 0)))
  }

  // ---------------------------------------------------------------- multimodal

  test("multimodal: binary payload round-trips through mapPartitions decode") {
    val docs = Seq((7L, "hello world", "en", "srcA", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.extractFeatures(Multimodal.fromDocuments(docs)).collect()
    assert(feats.length === 1)
    val f = feats.head
    assert(f.media_id === 7L)
    assert(f.n_bytes === 11L)
    assert(f.checksum === "5eb63bbbe01eeed093cb22bb8f5acdc3") // md5("hello world")
    assert(f.width >= 1 && f.width <= 640)
    assert(f.height >= 1 && f.height <= 480)
  }

  test("image headers: golden real-world 1x1 PNG and GIF decode") {
    import graft.ops.ImageHeaders
    // independent goldens: canonical 1x1 images, not built by our builders
    val png1x1 = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    assert(ImageHeaders.parse(png1x1) === Some(("image/png", 1, 1)))
    val gif1x1 = java.util.Base64.getDecoder.decode(
      "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    assert(ImageHeaders.parse(gif1x1) === Some(("image/gif", 1, 1)))
  }

  test("image headers: builder round-trip for PNG/GIF/JPEG across dimensions") {
    import graft.ops.ImageHeaders
    for ((w, h) <- Seq((1, 1), (640, 480), (65535, 1), (257, 511))) {
      assert(ImageHeaders.parse(ImageHeaders.pngBytes(w, h)) === Some(("image/png", w, h)))
      if (w <= 65535 && h <= 65535) {
        assert(ImageHeaders.parse(ImageHeaders.gifBytes(w, h)) === Some(("image/gif", w, h)))
        assert(ImageHeaders.parse(ImageHeaders.jpegBytes(w, h)) === Some(("image/jpeg", w, h)))
      }
    }
  }

  test("image headers: jpeg marker walk skips fill bytes and standalone markers") {
    import graft.ops.ImageHeaders
    val sof = Array[Byte](0xff.toByte, 0xc2.toByte, 0, 11, 8, // progressive SOF2
      0, 7, 0, 9, 1, 1, 0x11, 0)
    // SOI, fill byte, TEM (standalone), APP1 segment, SOF2
    val bytes = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xff.toByte, 0x01, // fill then TEM
      0xff.toByte, 0xe1.toByte, 0, 4, 1, 2) ++ sof
    assert(ImageHeaders.parse(bytes) === Some(("image/jpeg", 9, 7)))
  }

  test("bmp pixels: hand-built 2x2 golden decodes exact channel sums") {
    import graft.ops.BmpPixels
    // independent construction (not BmpPixels.bmpBytes): 2x2, 24-bpp,
    // bottom-up, rowBytes = 8 (2 pad bytes/row). Logical pixels:
    // (0,0) red (255,0,0), (1,0) green (0,255,0),
    // (0,1) blue (0,0,255), (1,1) (10,20,30)
    val b = new Array[Byte](54 + 16)
    def w16(i: Int, v: Int): Unit = { b(i) = v.toByte; b(i + 1) = (v >> 8).toByte }
    def w32(i: Int, v: Int): Unit = (0 to 3).foreach(j => b(i + j) = (v >> (8 * j)).toByte)
    b(0) = 'B'; b(1) = 'M'; w32(2, b.length); w32(10, 54); w32(14, 40)
    w32(18, 2); w32(22, 2); w16(26, 1); w16(28, 24); w32(30, 0); w32(34, 16)
    // file row 0 = logical row 1 (bottom-up), stored B,G,R
    val row1 = Array[Int](255, 0, 0, 30, 20, 10, 0, 0)      // blue, (10,20,30)
    val row0 = Array[Int](0, 0, 255, 0, 255, 0, 0, 0)       // red, green
    row1.zipWithIndex.foreach { case (v, i) => b(54 + i) = v.toByte }
    row0.zipWithIndex.foreach { case (v, i) => b(62 + i) = v.toByte }
    val s = BmpPixels.decode(b).get
    assert((s.width, s.height, s.nPx) === ((2, 2, 4L)))
    assert((s.sumR, s.sumG, s.sumB) === ((265L, 275L, 285L)))
  }

  test("bmp pixels: builder round-trip with row padding across widths") {
    import graft.ops.BmpPixels
    for ((w, h) <- Seq((1, 1), (2, 3), (3, 2), (5, 4), (16, 12), (4, 1))) {
      val s = BmpPixels.decode(BmpPixels.bmpBytes(w, h,
        (x, y) => (x * 7 + y * 11, x * 7 + y * 11 + 3, x * 7 + y * 11 + 6))).get
      val expBase = 7L * (w.toLong * (w - 1) / 2) * h + 11L * (h.toLong * (h - 1) / 2) * w
      assert((s.width, s.height, s.nPx) === ((w, h, w.toLong * h)))
      assert(s.sumR === expBase, s"${w}x$h sumR")
      assert(s.sumG === expBase + 3L * w * h)
      assert(s.sumB === expBase + 6L * w * h)
    }
  }

  test("bmp pixels: top-down (negative height) decodes the same sums") {
    import graft.ops.BmpPixels
    val up = BmpPixels.bmpBytes(3, 2, (x, y) => (x + y, 2 * x, 3 * y))
    // flip to top-down: negate height, reverse stored row order
    val down = up.clone()
    (0 to 3).foreach(j => down(22 + j) = ((-2) >> (8 * j)).toByte)
    val rowBytes = 12
    Array.copy(up, 54, down, 54 + rowBytes, rowBytes)
    Array.copy(up, 54 + rowBytes, down, 54, rowBytes)
    assert(BmpPixels.decode(down) === BmpPixels.decode(up))
  }

  test("bmp pixels: non-BMP and unsupported variants return None, not throw") {
    import graft.ops.BmpPixels
    assert(BmpPixels.decode("BM but just text, really...............................".getBytes) === None)
    assert(BmpPixels.decode(Array.empty[Byte]) === None)
    assert(BmpPixels.decode(BmpPixels.bmpBytes(4, 4, (_, _) => (1, 2, 3)).take(40)) === None)
    val bad = BmpPixels.bmpBytes(2, 2, (_, _) => (0, 0, 0))
    bad(28) = 8 // 8-bpp palette — unsupported
    assert(BmpPixels.decode(bad) === None)
    val rle = BmpPixels.bmpBytes(2, 2, (_, _) => (0, 0, 0))
    rle(30) = 1 // BI_RLE8 compression — unsupported
    assert(BmpPixels.decode(rle) === None)
  }

  test("bmp pixels: extractFeatures sniffs BMP dims; decodePixels drops non-BMP") {
    import graft.model.MediaRecord
    import graft.ops.BmpPixels
    val recs = Seq(
      MediaRecord(1L, "application/octet-stream",
        BmpPixels.bmpBytes(6, 4, (x, y) => (x, y, x + y)), Map.empty),
      MediaRecord(2L, "text/plain", "just text".getBytes, Map.empty)).toDS()
    val feats = Multimodal.extractFeatures(recs).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).media_type === "image/bmp")
    assert((feats(1L).width, feats(1L).height) === ((6, 4)))
    assert(feats(2L).media_type === "text/plain") // stub path, not sniffed as image
    val px = Multimodal.decodePixels(recs).collect()
    assert(px.map(_.media_id).toSeq === Seq(1L))
    assert(px.head.n_px === 24L)
  }

  test("image headers: malformed/truncated payloads return None, not throw") {
    import graft.ops.ImageHeaders
    assert(ImageHeaders.parse("not an image at all".getBytes) === None)
    assert(ImageHeaders.parse(Array.empty[Byte]) === None)
    assert(ImageHeaders.parse(ImageHeaders.pngBytes(5, 5).take(10)) === None)
    assert(ImageHeaders.parse(ImageHeaders.jpegBytes(5, 5).take(6)) === None)
    // JPEG with SOS before any SOF: dimensions undiscoverable
    assert(ImageHeaders.parse(Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xda.toByte, 0, 2)) === None)
    // zero dimensions are spec-invalid
    assert(ImageHeaders.parse(ImageHeaders.gifBytes(0, 5)) === None)
  }

  test("multimodal: image payloads get real header decode, others fall back to stub") {
    import graft.ops.ImageHeaders
    val recs = Seq(
      MediaRecord(1L, "application/octet-stream", ImageHeaders.pngBytes(320, 200), Map()),
      MediaRecord(2L, "text/plain", "just text".getBytes, Map())).toDS()
    val out = Multimodal.extractFeatures(recs).collect().sortBy(_.media_id)
    assert(out(0).media_type === "image/png")
    assert(out(0).width === 320 && out(0).height === 200)
    assert(out(1).media_type === "text/plain") // stub path keeps declared type
  }

  test("wav headers: builder round-trip across parameter grid") {
    import graft.ops.WavHeaders
    for (c <- Seq(1, 2); r <- Seq(8000, 44100, 48000); b <- Seq(8, 16, 24); n <- Seq(4, 999)) {
      assert(WavHeaders.parse(WavHeaders.wavBytes(c, r, b, n)) === Some((c, r, b, n.toLong)),
        s"c=$c r=$r b=$b n=$n")
    }
  }

  test("wav headers: chunk walk skips unknown chunks before fmt/data") {
    import graft.ops.WavHeaders
    val base = WavHeaders.wavBytes(2, 44100, 16, 8)
    // splice a LIST chunk (odd size → pad byte) between WAVE and fmt
    val list = "LIST".getBytes ++ Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0)
    val spliced = base.take(12) ++ list ++ base.drop(12)
    assert(WavHeaders.parse(spliced) === Some((2, 44100, 16, 8L)))
  }

  test("wav headers: malformed/truncated payloads return None, not throw") {
    import graft.ops.WavHeaders
    assert(WavHeaders.parse(null) === None)
    assert(WavHeaders.parse("RIFFxxxxWAVE".getBytes) === None)
    assert(WavHeaders.parse(WavHeaders.wavBytes(2, 44100, 16, 8).take(30)) === None)
    assert(WavHeaders.parse("not audio at all, just text padding!!!!!!!!!".getBytes) === None)
  }

  test("wav headers: huge declared chunk size returns None, never wraps the cursor") {
    import graft.ops.{WavHeaders, WavPcm}
    // a ~52-byte record whose first chunk declares size ≈ 2^31: an Int
    // cursor would wrap negative and the next le32 read would throw AIOOBE
    for (szBytes <- Seq(
        Array[Byte](-5, -1, -1, 127), // 0x7FFFFFFB: above the size cap
        Array[Byte](0, -1, -1, 127))) { // 0x7FFFFF00: passes the cap, walk advances
      val huge = "RIFF".getBytes ++ Array[Byte](44, 0, 0, 0) ++ "WAVE".getBytes ++
        "JUNK".getBytes ++ szBytes ++ new Array[Byte](32)
      assert(WavHeaders.parse(huge) === None)
      assert(WavPcm.pcm16WindowStats(huge, 4) === None)
    }
  }

  test("wav headers: fmt chunk declaring size < 16 returns None, not garbage fields") {
    import graft.ops.{WavHeaders, WavPcm}
    def withFmtSize(sz: Byte): Array[Byte] = {
      val base = WavHeaders.wavBytes(1, 8000, 16, 8)
      base.updated(16, sz) // fmt size field (offset 16, little-endian low byte)
    }
    assert(WavHeaders.parse(withFmtSize(8)) === None)
    assert(WavPcm.pcm16WindowStats(withFmtSize(8), 4) === None)
    // size = 16 (the minimum PCM layout) still parses
    assert(WavHeaders.parse(withFmtSize(16)) === Some((1, 8000, 16, 8L)))
  }

  test("mp4 headers: builder round-trip and box-walk past leading free box") {
    import graft.ops.Mp4Headers
    for (b <- Seq("isom", "mp42", "avc1"); ts <- Seq(1000L, 48000L); d <- Seq(1L, 89999L)) {
      assert(Mp4Headers.parse(Mp4Headers.mp4Bytes(b, ts, d)) === Some((b, ts, d)))
    }
    // free box spliced before ftyp: size 12 + type 'free' + 4 junk bytes
    val base = Mp4Headers.mp4Bytes("isom", 600L, 1200L)
    val free = Array[Byte](0, 0, 0, 12) ++ "free".getBytes ++ Array[Byte](9, 9, 9, 9)
    assert(Mp4Headers.parse(free ++ base) === Some(("isom", 600L, 1200L)))
  }

  test("mp4 headers: malformed/truncated payloads return None, not throw") {
    import graft.ops.Mp4Headers
    assert(Mp4Headers.parse(null) === None)
    assert(Mp4Headers.parse("not a video".getBytes) === None)
    assert(Mp4Headers.parse(Mp4Headers.mp4Bytes("isom", 600L, 1200L).take(25)) === None)
    // zero timescale is invalid per spec guard
    assert(Mp4Headers.parse(Mp4Headers.mp4Bytes("isom", 0L, 1200L)) === None)
  }

  test("multimodal: resize stub decimates payload and records provenance") {
    val recs = Seq(MediaRecord(1L, "image/fake", (0 until 100).map(_.toByte).toArray, Map()))
      .toDS()
    val out = Multimodal.resizeStub(recs, factor = 4).collect().head
    assert(out.payload.length === 25)
    assert(out.payload.take(3).toSeq === Seq(0.toByte, 4.toByte, 8.toByte))
    assert(out.meta("orig_bytes") === "100")
  }

  test("multimodal: frame sampling splits payload deterministically") {
    val recs = Seq(MediaRecord(1L, "video/fake", Array.fill[Byte](100)(7), Map()))
      .toDS()
    val frames = Multimodal.sampleFrames(recs, frameSize = 16, stride = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // 100 bytes → 7 frames of ≤16; every 2nd kept: idx 0,2,4,6
    assert(frames.map(_._2).toSeq === Seq(0, 2, 4, 6))
    assert(frames.last._3 === 4) // trailing partial frame
  }

  test("band joins emit each pair exactly ONCE without a distinct (first-matching-band)") {
    // identical docs match in ALL bands — the multi-emission case the
    // removed .distinct() used to absorb; the first-matching-band
    // predicate must keep exactly one row per pair (r16 optimization)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "unrelated words that share nothing with the others at all"))
      .toDF("doc_id", "text")
    val cand = Dedup.minhashCandidates(
        Dedup.minhashSignature(docs, "text", "doc_id"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.length === cand.distinct.length, s"duplicate pairs: ${cand.toSeq}")
    assert(cand.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))

    val sig = Dedup.minhashSignature(docs, "text", "doc_id")
    val inc = Dedup.incrementalMinhashDups(
        sig.where(col("doc_id") =!= 2L), sig.where(col("doc_id") === 2L), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(inc.length === inc.distinct.length, s"duplicate inc pairs: ${inc.toSeq}")
    assert(inc.toSet === Set((2L, 1L), (2L, 3L)))

    val sp = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sp.length === sp.distinct.length, s"duplicate simhash pairs: ${sp.toSeq}")
    assert(sp.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))

    // near-equal 64-bit pHashes collide in three of four 16-bit bands
    val pp = Multimodal.phashPairs(
        Seq(("00ff00ff00ff00fe", 1L), ("00ff00ff00ff00ff", 2L))
          .toDF("phash_hex", "n"), "phash_hex", maxHamming = 3)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pp.length === pp.distinct.length, s"duplicate phash pairs: ${pp.toSeq}")
    assert(pp.toSet === Set(("00ff00ff00ff00fe", "00ff00ff00ff00ff")))
  }
}
