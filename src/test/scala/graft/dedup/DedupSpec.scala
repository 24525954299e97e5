package graft.dedup

import graft.SparkSpec
import graft.model.Tables
import graft.sim.Similarity
import graft.text.TextMetrics
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val emb = Tables.embeddings(spark, sfDir)

  test("exactGroups finds every planted duplicate and nothing else") {
    val doubledOnce = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 5000))
    val groups = Dedup.exactGroups(doubledOnce, "doc_id", "text")
    assert(groups.count() == docs.count()) // every text duplicated exactly once
    assert(groups.agg(max("n_docs")).head.getLong(0) == 2)
    // representative id is the original (smaller) one
    assert(groups.agg(max("keep_id")).head.getLong(0) < 5000)
    // no dupes in the raw corpus
    assert(Dedup.exactGroups(docs, "doc_id", "text").count() == 0)
  }

  test("normalization makes case/punct/whitespace variants collide") {
    import spark.implicits._
    val df = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other")).toDF("id", "text")
    val g = Dedup.exactGroups(df, "id", "text")
    assert(g.count() == 1 && g.head.getLong(1) == 2)
  }

  test("minhash LSH pairs == exact Jaccard pairs at the 0.5 operating point") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashDedup(docs, "doc_id", "text", 3, 64, 32, 0.5)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact, s"LSH missed ${exact.diff(lsh)} / extra ${lsh.diff(exact)}")
  }

  test("q_minhash_dedup caches nothing; minhashDedup plans no collect_list aggregate") {
    spark.catalog.clearCache()
    graft.SparkEntry.queries("q_minhash_dedup")(spark, sfDir).collect()
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cacheManager.isEmpty, "the query left a cached relation in the session")
    val plan = Dedup.minhashDedup(docs, "doc_id", "text", 3, 64, 32, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), s"banding must be scan-local, got:\n$plan")
  }

  test("minhash signature expression matches the reference arithmetic") {
    import spark.implicits._
    val p = 2147483647L
    val rnd = new scala.util.Random(42L)
    val coeffs = Seq.fill(8)((1 + math.abs(rnd.nextLong()) % (p - 1),
                              math.abs(rnd.nextLong()) % p))
    val gs = Seq(-9153824012L, 42L, 7773331119L, -1L)
    val expected = coeffs.map { case (a, b) =>
      gs.map(h => (java.lang.Math.floorMod(h, p) * a + b) % p).min
    }
    val out = Seq(Tuple1(gs)).toDF("gs")
      .select(graft.plans.Expressions.minhash_signature(
        col("gs"), coeffs.map(_._1), coeffs.map(_._2), p).as("sig"))
      .head.getSeq[Long](0)
    assert(out == expected)
    // empty set -> null (the old aggregate form dropped such docs)
    val nullOut = Seq(Tuple1(Seq.empty[Long])).toDF("gs")
      .select(graft.plans.Expressions.minhash_signature(
        col("gs"), coeffs.map(_._1), coeffs.map(_._2), p))
      .head.isNullAt(0)
    assert(nullOut)
  }

  test("maxDocFreq cap kills stop-gram pair explosion, keeps true near-dups") {
    import spark.implicits._
    // planted corpus: every doc ends with the same boilerplate sentence
    // (stop-grams with df = 20); docs 0/1 additionally share a long rare
    // passage (true near-dups). Without a cap, the boilerplate alone makes
    // all C(20,2)=190 pairs candidates — the quadratic-straggler shape.
    val boiler = "this document is provided as is without any warranty of any kind"
    val rare = "quantum flux harmonics destabilize the auxiliary manifold injector array"
    val corpus = (0L until 20L).map { i =>
      val body =
        if (i <= 1) s"$rare variant $i"
        else s"unique body ${i} alpha${i} beta${i} gamma${i} delta${i} epsilon${i} zeta${i}"
      (i, s"$body $boiler")
    }.toDF("id", "text")

    val uncapped = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3,
      threshold = 0.01, maxDocFreq = Int.MaxValue)
    assert(uncapped.count() == 190, "boilerplate makes every pair a candidate")

    // cap below the boilerplate df: only the rare-passage pair survives,
    // and its jaccard counts rare grams only (denominators stay full-set)
    val capped = Dedup.ngramJaccardPairs(corpus, "id", "text",
      n = 3, threshold = 0.01, maxDocFreq = 10)
    val rows = capped.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 0L && rows.head.getLong(1) == 1L,
      s"expected only the planted near-dup pair, got ${rows.mkString(", ")}")
    // 9 shared rare grams ("quantum .. array" = 11 tokens) out of full sets
    val j = rows.head.getDouble(2)
    assert(j > 0.1 && j < 1.0)
  }

  test("DEFAULT maxDocFreq is finite and caps a planted stop-gram") {
    import spark.implicits._
    // boilerplate shared by MORE docs than the default cap: with defaults,
    // its grams are dropped before the pair explode, so only the rare-passage
    // pair survives; uncapped, every pair is a candidate (the quadratic
    // reducer a defaults-user must never get for free).
    val boiler = "all rights reserved no part of this publication may be reproduced"
    val rare = "unregistered tachyon condensate aligns the dorsal phase conduit lattice"
    val nDocs = Dedup.DefaultMaxDocFreq + 12
    val corpus = (0L until nDocs.toLong).map { i =>
      val body =
        if (i <= 1) s"$rare copy $i"
        else s"filler ${i} aa${i} bb${i} cc${i} dd${i} ee${i} ff${i} gg${i}"
      (i, s"$body $boiler")
    }.toDF("id", "text")
    val out = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3, threshold = 0.01)
      .collect()
    assert(out.length == 1 && out.head.getLong(0) == 0L && out.head.getLong(1) == 1L,
      s"default cap should leave only the rare-passage pair, got ${out.length} pairs")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "id", "text", n = 3,
      threshold = 0.01, maxDocFreq = Int.MaxValue).count()
    assert(uncapped == nDocs.toLong * (nDocs - 1) / 2,
      "explicit Int.MaxValue restores the all-candidates shape")
  }

  test("fused text-gram kernel draws the same token boundaries as the regex pipeline") {
    import spark.implicits._
    // gram-hash VALUES differ by design; token/gram STRUCTURE must match,
    // so per-doc distinct-gram counts must equal the string pipeline's
    val texts = Seq(
      1L -> "Hello,   World! This is   a test of the kernel",
      2L -> "punct---runs///and...dots why2not three4 tokens here",
      3L -> "MiXeD CaSe AND ÜmLäuts Éverywhere açaí naïve café touché okay",
      4L -> "İstanbul İİİ bad unicode ŉ ß ΣΙΣΥΦΟΣ end of line now",
      5L -> "  ", 6L -> "", 7L -> "one two", 8L -> "1 2 3 4 5",
      9L -> "tab\tand\nnewline\rseparated tokens all over the place")
    val df = texts.toDF("id", "text")
    val kernel = df.select(col("id"),
        size(graft.plans.Expressions.text_gram_hashes(col("text"), 3)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val regex = Dedup.ngrams(df, "id", "text", 3)
      .groupBy(col("id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    texts.foreach { case (id, t) =>
      assert(kernel(id) == regex.getOrElse(id, 0),
        s"gram count mismatch for '$t': kernel ${kernel(id)} vs regex ${regex.getOrElse(id, 0)}")
    }
  }

  test("simhash: near-dup docs have small hamming distance, random docs large") {
    val planted = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("id1", "id2").collect()
    assert(planted.nonEmpty)
    val fp = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = (a: Long, b: Long) => java.lang.Long.bitCount(a ^ b)
    planted.foreach { r =>
      assert(h(fp(r.getLong(0)), fp(r.getLong(1))) <= 12,
        s"jac>=0.8 pair ${r} should be simhash-close")
    }
    // two docs picked to share no 3-grams should be far apart
    val far = h(fp(0L), fp(250L))
    assert(far > 12)
  }

  test("connectedComponents merges transitive chains that pairs under-merge") {
    import spark.implicits._
    // chain 1-2-3-4 (no 1~3, 1~4, 2~4 edges), isolated pair 10-11, and a
    // triangle 20-21-22: min-label must flow across every chain
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L), s"chain: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
    assert(cc.size == 9)

    // keep-one canonicalization drops exactly the non-representatives
    val docs = (1L to 25L).map(i => (i, s"doc $i")).toDF("id", "text")
    val kept = Dedup.dropDuplicateClusters(docs, "id", pairs)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == (1L to 25L).toSet -- Set(2L, 3L, 4L, 11L, 21L, 22L))
  }

  test("connectedComponents rejects null and non-integral ids loudly " +
    "(a silent cast-to-null dropped every edge and kept every duplicate)") {
    import spark.implicits._
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val strIds = Seq(("doc_a", "doc_b")).toDF("id1", "id2")
    val e = intercept[Exception] { Dedup.connectedComponents(strIds).collect() }
    assert(chain(e).contains("not integral"), s"got: ${chain(e)}")
    val nullIds = Seq((Option(1L), Option.empty[Long])).toDF("id1", "id2")
    val e2 = intercept[Exception] { Dedup.connectedComponents(nullIds).collect() }
    assert(chain(e2).contains("null"), s"got: ${chain(e2)}")
    // numeric STRINGS are fine — the guard rejects garbage, not types
    val numStr = Seq(("2", "1")).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(numStr).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L))
  }

  test("LSH banding rejects bands that don't divide the signature bits") {
    import spark.implicits._
    val emb = Seq((1L, Seq.fill(8)(0.5f)), (2L, Seq.fill(8)(0.4f)))
      .toDF("vec_id", "embedding")
    // bands > bits would make bitsPerBand = 0: every vector in ONE bucket
    // per band — the silent all-pairs blowup
    val e = intercept[IllegalArgumentException] {
      graft.sim.Similarity.lshCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.5, dim = 8, bits = 16, bands = 32)
    }
    assert(e.getMessage.contains("bitsPerBand"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sim.Similarity.lshTopK(emb, "vec_id", "embedding", k = 1,
        dim = 8, bits = 16, bands = 5) // remainder: top bit ignored
    }
    assert(e2.getMessage.contains("multiple"))
  }

  test("connectedComponentsWithStatus reports non-convergence on deep chains") {
    import spark.implicits._
    // path graph of diameter 7: label 1 needs ~7 rounds to reach node 8.
    // driverMaxEdges = 0 forces the distributed propagation path (the
    // default union-find path always converges and both strategies are
    // result-equivalent — asserted below)
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (_, c2) = Dedup.connectedComponentsWithStatus(chain,
      maxIterations = 2, driverMaxEdges = 0)
    assert(!c2, "2 iterations cannot converge a diameter-7 chain")
    val (labels, ok) = Dedup.connectedComponentsWithStatus(chain,
      maxIterations = 20, driverMaxEdges = 0)
    assert(ok)
    assert(labels.collect().forall(_.getLong(1) == 1L))
    // strategy equivalence: union-find (default) produces the identical
    // labeling the converged propagation run produced
    val uf = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == prop)
  }

  test("non-castable ids fail loudly instead of silently vanishing (ANSI off)") {
    import spark.implicits._
    // with ANSI off, cast('docA' as long) = null; the guard's isNull arm
    // must turn that into an error, not an empty pair list
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = Seq(("docA", "one two three four"), ("docB", "one two three four"))
        .toDF("id", "text")
      val e = intercept[Exception] {
        Dedup.ngramJaccardPairs(df, "id", "text", n = 3, threshold = 0.0).collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("re-key ids"), s"wrong failure: $msgs")
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("cosine expression matches a hand-computed value") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0))).toDF("a", "b")
    val c = df.select(Dedup.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(c - 0.5) < 1e-12) // 1/(√2·√2)
  }

  test("PQ ADC equals exact cosine at zero quantization error, ranks by it") {
    import spark.implicits._
    // 2 subspaces × ≤4 distinct subvectors each, codebookSize 4 ⇒ k-means
    // centers ARE the subvectors ⇒ ADC reconstructs the exact inner
    // product of the normalized vectors
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 1.0)),
      (1L, Seq(1.0, 0.0, 1.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 1.0)),
      (3L, Seq(0.0, 1.0, 1.0, 0.0)))
    val df = vecs.toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(df, "vec_id", "embedding", k = 3,
        dim = 4, m = 2, codebookSize = 4)
      .select(col("id1"), col("id2"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val unit = vecs.map { case (id, v) =>
      val n = math.sqrt(v.map(x => x * x).sum); id -> v.map(_ / n)
    }.toMap
    for (((a, b), s) <- pq) {
      val exact = unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum
      assert(math.abs(s - exact) < 1e-9, s"ADC($a,$b)=$s exact=$exact")
    }
  }

  test("PQ codes are valid and recall@10 holds against exact kNN") {
    val sample = emb.where(col("vec_id") < 100)
    val books = Similarity.pqCodebooks(sample, "embedding", 64, 8, 16)
    val codes = sample
      .select(explode(Similarity.pqEncode(
        transform(col("embedding"), _.cast("double")), books)).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 16, s"code range $codes")
    val exact = Similarity.knnJoin(sample, "vec_id", "embedding", 10)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(sample, "vec_id", "embedding", 10, dim = 64)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 too low: $recall")
  }

  test("codebook fit is distributed — structure past a 10k prefix is learned") {
    // 12k rows: the first 10k are one constant vector, the diverse tail
    // lies entirely beyond the old driver-side collect cap. A prefix-capped
    // fit would collapse every subspace to a single effective centroid and
    // encode the whole tail as one code; the distributed fit must learn the
    // tail's structure (≥2 distinct codes per subspace over tail rows).
    val dim = 8; val m = 2
    val vecs = spark.range(12000).select(col("id"),
      when(col("id") < 10000,
        array(Seq.fill(dim)(lit(1.0)): _*))
        .otherwise(array((0 until dim).map(j =>
          sin(col("id") * (j + 1)).cast("double")): _*)).as("embedding"))
    val books = Similarity.pqCodebooks(vecs, "embedding", dim, m, codebookSize = 4)
    val tailCodes = vecs.where(col("id") >= 10000)
      .select(Similarity.pqEncode(
        transform(col("embedding"), _.cast("double")), books).as("codes"))
    val distinctPerSubspace = (0 until m).map(j =>
      tailCodes.select(col("codes").getItem(j)).distinct().count())
    assert(distinctPerSubspace.forall(_ >= 2),
      s"tail collapsed to one code per subspace: $distinctPerSubspace — " +
        "fit is not seeing rows beyond a prefix")
    // determinism: the same seeded fit twice is bit-identical
    val again = Similarity.pqCodebooks(vecs, "embedding", dim, m, codebookSize = 4)
    assert(books == again, "seeded distributed fit must be reproducible")
  }

  test("IVF-PQ composition keeps usable recall@10 against exact kNN") {
    val sample = emb.where(col("vec_id") < 100)
    val exact = Similarity.knnJoin(sample, "vec_id", "embedding", 10)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(sample, "vec_id", "embedding", 10,
        dim = 64, nlist = 8, nprobe = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivfpq).size.toDouble / exact.size
    // both dials engaged (cell pruning AND code quantization) — recall
    // sits below either alone but must stay usable
    assert(recall >= 0.4, s"IVF-PQ recall@10 too low: $recall")
  }

  test("residual IVF-PQ recall is at least the raw-code path's") {
    val sample = emb.where(col("vec_id") < 100)
    val exact = Similarity.knnJoin(sample, "vec_id", "embedding", 10)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(residual: Boolean): Double = {
      val got = Similarity.ivfPqTopK(sample, "vec_id", "embedding", 10,
          dim = 64, nlist = 8, nprobe = 4, residual = residual)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val raw = recallOf(residual = false)
    val res = recallOf(residual = true)
    info(f"recall@10 raw=$raw%.3f residual=$res%.3f")
    // residual codes only need to cover within-cell spread — recall must
    // not regress vs quantizing the full vectors (small slack for the
    // coarse-assignment tie noise on this tiny fixture)
    assert(res >= raw - 0.02, f"residual $res%.3f < raw $raw%.3f")
    assert(res >= 0.4, f"residual IVF-PQ recall too low: $res%.3f")
  }

  test("IVF ANN achieves high recall@3 against exact kNN") {
    val sample = emb.where(col("vec_id") < 100)
    val exact = Similarity.knnJoin(sample, "vec_id", "embedding", 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(sample, "vec_id", "embedding", 3, dim = 64,
        nlist = 8, nprobe = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall@3 too low: $recall")
  }

  test("IVF candidate pairs are unique by construction (no distinct needed)") {
    // one cell per corpus vector + nprobe DISTINCT probed cells per query
    // means a (query, candidate) pair can arise from at most one cell —
    // the invariant that let round 13 drop ivfTopK's distinct() shuffle.
    // k >= sample size exposes the full candidate set through the rank.
    val sample = emb.where(col("vec_id") < 40)
    val all = Similarity.ivfTopK(sample, "vec_id", "embedding", k = 1000,
        dim = 64, nlist = 4, nprobe = 4)
      .groupBy(col("id1"), col("id2")).count()
      .where(col("count") > 1)
    assert(all.isEmpty, "duplicate (id1, id2) candidate pairs found")
  }

  test("LSH cosine pairs: exact precision, bounded recall vs all-pairs baseline") {
    val exact = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.45, dim = 64, bits = 16, bands = 4)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // precision is exact by construction (candidates verified with true cosine)
    assert(lsh.subsetOf(exact), s"false positives: ${lsh.diff(exact)}")
    // 4×4-bit point: for a borderline pair at cosine ≈ 0.45 (θ ≈ 63°),
    // P(band match) = (1 − θ/π)⁴ ≈ 0.18 → recall ≈ 1−(1−0.18)⁴ ≈ 0.55, and
    // lower still for the sub-0.5-cosine bulk — a COARSE operating point
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.2, s"recall collapsed at the 4x4-bit point: $recall")
    // the bands dial: 8×2-bit buckets push band-match to p² → recall ≈ 0.99
    val fine = Similarity.lshCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.45, dim = 64, bits = 16, bands = 8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fine.subsetOf(exact), s"false positives: ${fine.diff(exact)}")
    assert(fine.size.toDouble / exact.size >= 0.8,
      s"8x2-bit point should recall nearly everything: ${fine.size}/${exact.size}")
  }

  test("semanticDedupAuto sizes cells from the corpus and keeps one per group") {
    val out = Similarity.semanticDedupAuto(emb, "vec_id", "embedding",
      dim = 64, threshold = 0.45)
    // total output = corpus (every doc gets a verdict)
    assert(out.count() == emb.count())
    // tiny corpus → nlist floor (4): every in-cell exact pair is checked,
    // so the kept set must equal the explicit-nlist run's at the same
    // cells — and dropping docs requires a true cosine >= threshold pair
    val dropped = out.where(!col("keep")).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "the gate table plants near-dup twins")
    val allPairs = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(dropped.subsetOf(allPairs),
      s"dropped a doc with no true near-dup: ${dropped.diff(allPairs)}")
  }

  test("lshCosinePairsAuto: exact precision at the size-chosen operating point") {
    val exact = Dedup.embeddingDupPairs(emb, "vec_id", "embedding", 0.45)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // tiny corpus → bitsPerBand clamps to the 2-bit floor → wide buckets
    // → near-exhaustive candidates; precision stays exact by construction
    val auto = Similarity.lshCosinePairsAuto(emb, "vec_id", "embedding",
        threshold = 0.45, dim = 64)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.subsetOf(exact), s"false positives: ${auto.diff(exact)}")
    assert(auto.size.toDouble / exact.size >= 0.8,
      s"small-corpus auto point should recall nearly everything: " +
        s"${auto.size}/${exact.size}")
  }

  test("LSH ANN achieves high recall@3 against exact kNN") {
    val sample = emb.where(col("vec_id") < 100)
    val exact = Similarity.knnJoin(sample, "vec_id", "embedding", 3)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(sample, "vec_id", "embedding", 3, dim = 64,
        bits = 16, bands = 8) // 8 bands of 2 bits: high recall
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall@3 too low: $recall")
  }

  test("persisted IVF-PQ index serves bit-identical results, raw and residual") {
    val sample = emb.where(col("vec_id") < 50)
    for (res <- Seq(false, true)) {
      val d = java.nio.file.Files.createTempDirectory(s"ivfpq_idx_$res").toString
      Similarity.writeIvfPqIndex(sample, "vec_id", "embedding", d, dim = 64,
        nlist = 8, m = 8, codebookSize = 16, residual = res)
      // the codes table is partitioned by cell — the serve-time partition-
      // pruning contract is the directory layout itself (inside the
      // committed generation directory — AtomicStore publish protocol)
      val gd = graft.util.AtomicStore.resolve(spark, d)
      val cells = new java.io.File(s"$gd/codes").list().count(_.startsWith("cell="))
      assert(cells > 1, s"codes must be cell-partitioned, found $cells cell dirs")
      // open in a FRESH session: everything must come back from the store
      val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
      assert(idx.residual == res && idx.dim == 64 && idx.m == 8)
      assert(idx.cents.size == 8 && idx.books.size == 8 &&
        idx.books.head.size == 16 && idx.books.head.head.size == 8)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val served = rows(Similarity.ivfPqServe(idx, sample, "vec_id", "embedding",
        k = 5, nprobe = 4))
      val direct = rows(Similarity.ivfPqTopK(sample, "vec_id", "embedding", k = 5,
        dim = 64, nlist = 8, nprobe = 4, m = 8, codebookSize = 16, residual = res))
      assert(served == direct,
        s"residual=$res: served and direct differ by ${(served diff direct).size} + " +
          s"${(direct diff served).size} rows")
    }
  }

  test("index append: encode-with-stored-model parity, layout, drift signal") {
    for (res <- Seq(false, true)) {
      val d = java.nio.file.Files.createTempDirectory(s"ivfpq_app_$res").toString
      Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
        "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8,
        codebookSize = 16, residual = res)
      Similarity.appendToIvfPqIndex(
        emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
        "vec_id", "embedding", d)
      val fresh = spark.newSession()
      val idx = Similarity.openIvfPqIndex(fresh, d)
      // the grown store holds all 50 codes in the cell layout
      assert(idx.codes.count() == 50)
      // serving the grown store == serving a full re-encode with the
      // SAME stored model (append changes where codes live, not what
      // they are)
      val all = emb.where(col("vec_id") < 50)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val served = rows(Similarity.ivfPqServe(idx, all, "vec_id", "embedding",
        k = 5, nprobe = 4))
      val rebuilt = idx.copy(codes =
        Similarity.encodeForIndex(idx, all, "vec_id", "embedding"))
      assert(served == rows(Similarity.ivfPqServe(rebuilt, all, "vec_id",
        "embedding", k = 5, nprobe = 4)), s"residual=$res")
      // drift: fit-time snapshot stays at 40 total, live count at 50,
      // growth nonnegative with at least one grown cell
      val drift = Similarity.ivfPqCellDrift(fresh, d).collect()
      assert(drift.map(_.getLong(1)).sum == 40 && drift.map(_.getLong(2)).sum == 50)
      assert(drift.forall(_.getDouble(3) >= 0.0) &&
        drift.exists(_.getDouble(3) > 0.0))
    }
  }

  test("index refit: drift past threshold rewrites; refit index == fresh fit") {
    val d = java.nio.file.Files.createTempDirectory("ivfpq_refit").toString
    val old = emb.where(col("vec_id") < 40)
    val grown = emb.where(col("vec_id") < 80)
    Similarity.writeIvfPqIndex(old, "vec_id", "embedding", d, dim = 64,
      nlist = 8, m = 8, codebookSize = 16)
    // steady state: no appends yet, nothing to do at any sane threshold
    assert(!Similarity.refitIvfPqIndex(old, "vec_id", "embedding", d,
      threshold = 0.5), "no drift -> no refit")
    Similarity.appendToIvfPqIndex(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 80),
      "vec_id", "embedding", d)
    // the corpus doubled: some cell must have grown ≥ 50%
    assert(Similarity.refitIvfPqIndex(grown, "vec_id", "embedding", d,
      threshold = 0.5), "drift past threshold -> refit")
    val fresh = spark.newSession()
    val idx = Similarity.openIvfPqIndex(fresh, d)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // recall parity: a refit store serves bit-identically to a direct fit
    // on today's corpus (same seed, same params) — the append-era
    // quantization drift is gone
    val served = rows(Similarity.ivfPqServe(idx, grown, "vec_id", "embedding",
      k = 5, nprobe = 4))
    val direct = rows(Similarity.ivfPqTopK(grown, "vec_id", "embedding", k = 5,
      dim = 64, nlist = 8, nprobe = 4, m = 8, codebookSize = 16))
    assert(served == direct, "refit index must equal a fresh direct fit")
    // the lifecycle loop is closed: post-refit drift is identically zero
    val drift = Similarity.ivfPqCellDrift(fresh, d).collect()
    assert(drift.forall(_.getDouble(3) == 0.0), "refit re-arms the drift signal")
    assert(!Similarity.refitIvfPqIndex(grown, "vec_id", "embedding", d,
      threshold = 0.5), "re-armed signal -> steady-state no-op")
  }

  test("index delete: tombstone serve parity, compaction rewrites only affected cells") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    val sample = emb.where(col("vec_id") < 50)
    Similarity.writeIvfPqIndex(sample, "vec_id", "embedding", d, dim = 64,
      nlist = 8, m = 8, codebookSize = 16)
    val deadIds = Seq(3L, 10L, 17L, 24L, 31L, 38L, 45L)
    Similarity.deleteFromIvfPqIndex(deadIds.toDF("vec_id"), "vec_id", d)
    val fresh = spark.newSession()
    val idx = Similarity.openIvfPqIndex(fresh, d)
    // the live view excludes tombstoned ids immediately, before compaction
    assert(idx.codes.count() == 43)
    assert(idx.codes.where(col("cid").isin(deadIds: _*)).count() == 0)
    // drift sees the shrinkage: live total 43 vs fit-time 50
    val drift = Similarity.ivfPqCellDrift(fresh, d).collect()
    assert(drift.map(_.getLong(1)).sum == 50 && drift.map(_.getLong(2)).sum == 43)
    assert(drift.exists(_.getDouble(3) < 0.0))
    val survivors = sample.where(!col("vec_id").isin(deadIds: _*))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val served = rows(Similarity.ivfPqServe(idx, survivors, "vec_id", "embedding",
      k = 5, nprobe = 4))
    // tombstoned serve == serving codes re-encoded from the survivors only
    val rebuilt = idx.copy(codes =
      Similarity.encodeForIndex(idx, survivors, "vec_id", "embedding"))
    assert(served == rows(Similarity.ivfPqServe(rebuilt, survivors, "vec_id",
      "embedding", k = 5, nprobe = 4)))
    // no served row ever points at a deleted id
    assert(!served.exists(t => deadIds.contains(t._2)))
    // which cells hold a dead id (pre-compaction layout), and the file set
    // of one UNAFFECTED cell — compaction must leave those files alone
    val gd = graft.util.AtomicStore.resolve(spark, d)
    val deadCells = spark.read.parquet(s"$gd/codes")
      .where(col("cid").isin(deadIds: _*))
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    val allCells = new java.io.File(s"$gd/codes").list()
      .filter(_.startsWith("cell=")).map(_.stripPrefix("cell=").toInt).toSet
    assert(deadCells.nonEmpty && deadCells != allCells,
      "test needs at least one unaffected cell to check selective rewrite")
    val untouched = (allCells diff deadCells).head
    def cellFiles(c: Int) = new java.io.File(s"$gd/codes/cell=$c").list()
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val before = cellFiles(untouched)
    Similarity.compactIvfPqIndex(spark, d)
    assert(cellFiles(untouched) == before,
      "compaction must not rewrite cells that hold no tombstoned id")
    assert(!new java.io.File(s"$gd/tombstones").exists(),
      "compaction must drop the tombstones table")
    assert(!new java.io.File(s"$gd/_compact_tmp").exists())
    // post-compaction store: same live content, bit-identical serve
    val idxC = Similarity.openIvfPqIndex(spark.newSession(), d)
    assert(idxC.codes.count() == 43)
    assert(rows(Similarity.ivfPqServe(idxC, survivors, "vec_id", "embedding",
      k = 5, nprobe = 4)) == served)
    // compaction re-arms deletes: a second delete+compact cycle works
    Similarity.deleteFromIvfPqIndex(Seq(7L).toDF("vec_id"), "vec_id", d)
    assert(Similarity.openIvfPqIndex(spark.newSession(), d).codes.count() == 42)
    Similarity.compactIvfPqIndex(spark, d)
    assert(spark.read.parquet(s"$gd/codes").count() == 42)
  }

  test("index delete: compacting a fully-tombstoned cell drops its directory") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("ivfpq_del_all").toString
    val sample = emb.where(col("vec_id") < 50)
    Similarity.writeIvfPqIndex(sample, "vec_id", "embedding", d, dim = 64,
      nlist = 8, m = 8, codebookSize = 16)
    // tombstone EVERY member of one cell
    val gd = graft.util.AtomicStore.resolve(spark, d)
    val victim = spark.read.parquet(s"$gd/codes")
      .groupBy(col("cell")).agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .orderBy(col("n"), col("cell")).head().getInt(0)
    val members = spark.read.parquet(s"$gd/codes")
      .where(col("cell") === victim).select(col("cid"))
    val nDead = members.count()
    Similarity.deleteFromIvfPqIndex(members, "cid", d)
    Similarity.compactIvfPqIndex(spark, d)
    assert(!new java.io.File(s"$gd/codes/cell=$victim").exists(),
      "an emptied cell's directory must be removed, not left stale")
    assert(spark.read.parquet(s"$gd/codes").count() == 50 - nDead)
  }

  test("index delete then re-add is an upsert: live immediately, no dup rows") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("ivfpq_readd").toString
    val sample = emb.where(col("vec_id") < 50)
    Similarity.writeIvfPqIndex(sample, "vec_id", "embedding", d, dim = 64,
      nlist = 8, m = 8, codebookSize = 16)
    Similarity.deleteFromIvfPqIndex(Seq(10L, 20L).toDF("vec_id"), "vec_id", d)
    assert(Similarity.openIvfPqIndex(spark.newSession(), d).codes.count() == 48)
    // re-add one of the two deleted ids WITHOUT compacting first
    Similarity.appendToIvfPqIndex(sample.where(col("vec_id") === 10),
      "vec_id", "embedding", d)
    val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
    // id 10 is live again and exactly once (old dead row reclaimed, not
    // resurrected alongside the new one); id 20's delete still holds
    assert(idx.codes.where(col("cid") === 10L).count() == 1)
    assert(idx.codes.where(col("cid") === 20L).count() == 0)
    assert(idx.codes.count() == 49)
    // a plain append with NO tombstone collision must stay the cheap
    // append-only fast path: the untouched tombstone table survives
    Similarity.deleteFromIvfPqIndex(Seq(30L).toDF("vec_id"), "vec_id", d)
    Similarity.appendToIvfPqIndex(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 52),
      "vec_id", "embedding", d)
    assert(new java.io.File(
        s"${graft.util.AtomicStore.resolve(spark, d)}/tombstones").exists(),
      "a collision-free append must not trigger compaction")
    assert(Similarity.openIvfPqIndex(spark.newSession(), d).codes.count() == 50)
  }

  test("exact-verify span mode agrees with hash mode on a collision-free corpus") {
    val docs = graft.model.Tables.documents(spark, sfDir)
    def rows(exact: Boolean) =
      Dedup.spanDedup(docs, "doc_id", "text", width = 8, exactVerify = exact)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .toSet
    // at test scale there are no 64-bit collisions, so the verified pass
    // must change nothing — it only ever REMOVES false removals
    assert(rows(exact = true) == rows(exact = false))
  }

  test("spanDedup removes a planted cross-document passage, keep-one") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val df = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, s"zeta eta $passage theta iota kappa"),
      (3L, "completely unrelated text with enough tokens to matter here okay")
    ).toDF("id", "text")
    val out = Dedup.spanDedup(df, "id", "text", width = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 is the keep document: nothing removed
    assert(out(1L).getInt(1) == 0, "keep doc must not lose spans")
    // doc 2: 3 width-8 windows fit inside the 10 shared tokens; their
    // covered union is exactly the passage
    assert(out(2L).getInt(1) == 3)
    assert(out(2L).getString(3) == "zeta eta theta iota kappa")
    assert(out(2L).getInt(2) == 5)
    // unrelated doc untouched, full normalized stream survives
    assert(out(3L).getInt(1) == 0 && out(3L).getInt(2) == 10)
  }

  test("contamination flags benchmark overlap; decontaminate drops only hits") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog" // 9 tokens
    val bench = Seq((100L, s"question $passage answer choice")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"intro words here $passage and a conclusion follows now"),
      (2L, "totally different content with no benchmark overlap at all in it"),
      (3L, "short doc") // < width tokens: no grams, can't be contaminated
    ).toDF("doc_id", "text")
    val c = Dedup.contamination(corpus, "doc_id", "text", bench, "text", width = 8)
      .collect().map(r => r.getLong(0) -> r).toMap
    // 9 shared tokens hold two width-8 windows, both present in the bench
    assert(c(1L).getBoolean(4), "overlapping doc must be flagged")
    assert(c(1L).getLong(2) == 2, s"expected 2 contaminated grams, got ${c(1L).getLong(2)}")
    assert(!c(2L).getBoolean(4) && c(2L).getLong(2) == 0)
    assert(!c(3L).getBoolean(4) && c(3L).getLong(1) == 0)
    val kept = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text", width = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
    // a fraction threshold tolerates small overlaps: doc 1 has 2 hits of
    // 10 grams (20%), so a 50% gate keeps it
    val tolerant = Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
      width = 8, maxOverlapFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tolerant == Set(1L, 2L, 3L))
  }

  test("span df-cap exempts ubiquitous windows; sub-width runs invisible") {
    import spark.implicits._
    val p = "one two three four five six seven eight" // exactly one width-8 window
    val df = Seq((1L, s"a $p b"), (2L, s"c $p d"), (3L, s"e $p f")).toDF("id", "text")
    // df=3 window: docs 2 and 3 each lose their occurrence, doc 1 keeps
    val rem = Dedup.spanRemovals(df, "id", "text", width = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rem == Set((2L, 1), (3L, 1)))
    // cap at 2 exempts the df=3 window entirely
    assert(Dedup.spanRemovals(df, "id", "text", width = 8, maxDocFreq = 2).count() == 0)
    // a 7-token shared run never forms a width-8 window
    val short = Seq(
      (1L, "one two three four five six seven x"),
      (2L, "one two three four five six seven y")).toDF("id", "text")
    assert(Dedup.spanRemovals(short, "id", "text", width = 8).count() == 0)
  }

  test("positional gram hashes agree with the distinct-set kernel") {
    val both = docs.select(
      graft.plans.Expressions.text_gram_hashes(col("text"), 3).as("set"),
      array_sort(array_distinct(
        graft.plans.Expressions.text_gram_hash_seq(col("text"), 3))).as("fromseq"))
    assert(both.where(not(col("set") <=> col("fromseq"))).count() == 0)
  }
}
