package graft.queries

import graft.dedup.{Dedup, DedupIndex}
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dedup suite over documents/embeddings. The corpus has no exact dupes
  * (500 distinct texts), so the exact-dedup query unions a shifted copy of
  * the table to give the operator real duplicate groups; the Jaccard
  * queries run on the original corpus, which has 25 planted near-dup pairs
  * at Jaccard ≥ 0.2.
  */
object DedupQ extends QueryPack {

  /** documents ∪ (same texts under doc_id + 100000) — derived, not
    * synthesized: every text then appears exactly twice.
    */
  private def doubled(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_exact_dedup" -> ((s, dir) =>
      Dedup.exactGroups(doubled(s, dir), "doc_id", "text")),
    // Persisted-index incremental dedup (DedupIndex): fit on ⅔ of the
    // corpus, query the arriving ⅓ against the store. Same 64/32 LSH
    // operating point as q_minhash_dedup (recall ≈ 1 at j ≥ 0.5), so the
    // oracle is the exact cross-set Jaccard — any postings/meta/verify
    // defect in the store path hash-mismatches.
    "q_dedup_index" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // batch PINNED to base-table ids (< 1e8): under the bench's 8x
      // upscale (doc_id shifted by k*1e8 per copy) the INDEX grows 8x
      // while the query batch stays fixed - the incremental-ingestion
      // serving shape, and a linear upscale prediction
      round6(
        DedupIndex.query(
          docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 100000000L),
          "doc_id", "text", mhIndexDir(s, dir, appended = false),
          threshold = 0.5),
        "jaccard")
    }),
    // Append path: the batch joins the searchable set, then a probe wave
    // (doc_id % 5 == 0 — docs already IN the grown index) queries it;
    // excludeSelf must drop exactly the identity hits. Survivor filter
    // (dedupBatch) rides along in q_dedup_ingest.
    "q_dedup_index_append" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      round6(
        DedupIndex.query(docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text", mhIndexDir(s, dir, appended = true),
          threshold = 0.5),
        "jaccard")
    }),
    // Compacted store: the SAME logical store as q_dedup_index_append,
    // but grown through four micro-appends and then folded by
    // DedupIndex.compact into a fresh single-base generation — the
    // small-file maintenance op, oracle-pinned: answers must equal the
    // independent cross-Jaccard derivation exactly, i.e. compaction
    // changes the layout and never the results.
    "q_dedup_index_compacted" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      round6(
        DedupIndex.query(docs.where(col("doc_id") % 5 === 0),
          "doc_id", "text", mhCompactedDir(s, dir),
          threshold = 0.5),
        "jaccard")
    }),
    // Takedown path on the dedup store (the q_ivfpq_delete arc): the
    // grown store minus every even doc_id via DedupIndex.delete —
    // deleted documents stop matching IMMEDIATELY (tombstone mask), and
    // the compacted twin (postings physically reclaimed) must return
    // value-identical rows (matches_compacted). Oracle: exact cross-set
    // Jaccard with the index side restricted to the odd survivors.
    "q_dedup_index_delete" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.where(col("doc_id") % 5 === 0)
      val served = round6(
        DedupIndex.query(batch, "doc_id", "text",
          mhDeleteDir(s, dir, compacted = false), threshold = 0.5),
        "jaccard")
      val servedC = round6(
        DedupIndex.query(batch, "doc_id", "text",
          mhDeleteDir(s, dir, compacted = true), threshold = 0.5),
        "jaccard")
      served.join(
          servedC.select(col("query_id"), col("index_id"),
            col("jaccard").as("jc")),
          Seq("query_id", "index_id"), "full")
        .withColumn("matches_compacted", col("jaccard") <=> col("jc"))
        .select(col("query_id"), col("index_id"), col("jaccard"),
          col("matches_compacted"))
    }),
    // The live loop, driver-checked end to end: 4 single-file parquet
    // batches (doc_id % 4, ascending mtimes + maxFilesPerTrigger=1 →
    // DETERMINISTIC micro-batch order) stream through ingestStream over
    // a FRESH store copy; each batch is deduped against base corpus +
    // all earlier survivors, appended, recorded. The oracle unrolls the
    // same greedy recursion as 4 SQL stages over the exact pair list.
    "q_stream_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = java.nio.file.Files
        .createTempDirectory("graft-mhidx-live").toString
      DedupIndex.write(docs.where(col("doc_id") % 3 =!= 0),
        "doc_id", "text", path)
      val batchDir = java.nio.file.Files
        .createTempDirectory("graft-ingest-batches")
      (0 until 4).foreach { k =>
        val f = batchDir.resolve(f"b$k%02d")
        docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 4 === k)
          .coalesce(1).write.parquet(f.toString)
        // distinct ascending mtimes pin the file-source processing order
        java.nio.file.Files.walk(f).forEach(p =>
          p.toFile.setLastModified(1700000000000L + k * 60000L))
      }
      val survOut = java.nio.file.Files
        .createTempDirectory("graft-ingest-surv").toString + "/surv"
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(s"$batchDir/b*")
      val sq = DedupIndex.ingestStream(stream, "doc_id", "text", path,
          survOut, threshold = 0.5)
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory("graft-ingest-ck").toString)
        .start()
      try sq.processAllAvailable() finally sq.stop()
      s.read.option("recursiveFileLookup", "true").parquet(survOut)
        .select(col("doc_id"))
    }),
    "q_dedup_ingest" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupIndex.dedupBatch(docs.where(col("doc_id") % 3 === 0),
        "doc_id", "text", mhIndexDir(s, dir, appended = false),
        threshold = 0.5)
        .select(col("doc_id"))
    }),
    // maxDocFreq=15 is the skew guard: it bounds every posting list (pair
    // cost Σ|postings|²) while keeping the full pair set at both gate and
    // bench scale (validated: identical pair-set at sf0.01 and sf0.1).
    "q_ngram_jaccard" -> ((s, dir) =>
      round6(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = 15),
        "jaccard")),
    // Aggressive cap that BITES at the sf0.01 gate (drops the df=6..7
    // grams) — proves the Spark cap and the SQL mirror implement the same
    // semantics, not just the no-op case.
    "q_ngram_jaccard_capped" -> ((s, dir) =>
      round6(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = 5),
        "jaccard")),
    // LSH operating point (64 hashes, 32 bands of 2 rows): P(candidate) at
    // j=0.5 is 1-(1-0.25)^32 ≈ 0.9999 → output == exact pairs ≥ 0.5, which
    // is the oracle below (validated at sf0.01 and sf0.1). Nothing is
    // cached: cached gram sets measured no faster than re-tokenizing this
    // corpus, and a run leaves the session's CacheManager as it found it.
    "q_minhash_dedup" -> ((s, dir) =>
      round6(
        Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text",
          n = 3, numHashes = 64, bands = 32, threshold = 0.5),
        "jaccard")),
    // xxhash64-based fingerprints have no DuckDB analog, but each emitted
    // pair's exact n-gram Jaccard rides along: the oracle pins only the
    // deterministic (id1, id2, hamming) candidate list and recomputes every
    // jaccard value from the corpus itself — so a bogus candidate pair or a
    // broken verification join fails loudly. maxHamming 3 is the 4-band
    // recall guarantee (see simhashPairs).
    "q_simhash_pairs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sp = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      // uncapped on purpose: the oracle recomputes each pinned pair's exact
      // Jaccard with no df filter, so the decoration must match it
      val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.0, maxDocFreq = Int.MaxValue)
      sp.join(jac, Seq("id1", "id2"), "left")
        .select(col("id1"), col("id2"), col("hamming"),
          round(coalesce(col("jaccard"), lit(0.0)), 6).as("jaccard"))
    }),
    "q_embedding_dedup" -> ((s, dir) =>
      round6(
        Dedup.embeddingDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.45),
        "cosine")),
    // Transitive closure of the near-dup relation: pairs alone under-merge
    // (A~B, B~C must become ONE cluster even when A~C was never emitted).
    // Oracle = DuckDB recursive CTE over the SAME pair list.
    "q_dup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = 15))),
    // The DISTRIBUTED strategy through the same gate: driverMaxEdges = 0
    // forces min-label propagation (the ≥4M-edge path a 100 TB corpus
    // takes) instead of driver union-find; the result must hash-match the
    // identical recursive-CTE oracle, and the in-query require turns a
    // non-converged labeling into a hard failure rather than a silent
    // partial clustering.
    "q_dup_clusters_large" -> ((s, dir) => {
      val (labels, converged) = Dedup.connectedComponentsWithStatus(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.2, maxDocFreq = 15),
        driverMaxEdges = 0L)
      require(converged, "distributed label propagation must converge")
      labels
    }),
    // Passage-level dedup over the planted near-dup corpus: at width 8 the
    // 25 planted pairs share multi-window passages, so detection AND
    // removal both bite (24 docs lose spans at sf0.01). The oracle replays
    // the whole pipeline — window extraction, keep-one policy, covered-
    // token union, cleaned-text md5 — in DuckDB SQL.
    "q_span_dedup" -> ((s, dir) => spanQuery(s, dir, maxDocFreq = Int.MaxValue)),
    // df cap at 2 BITES at the gate (drops the df=3 windows), proving the
    // Spark cap and the SQL mirror implement the same semantics.
    "q_span_dedup_capped" -> ((s, dir) => spanQuery(s, dir, maxDocFreq = 2)),
    // Exact-substring mode: every hash-matched occurrence re-compares its
    // LITERAL token window against the keeper's before removal, so a
    // 64-bit collision can no longer punch text out of an innocent
    // document (Lee et al.'s guarantee restored; cost ∝ candidates).
    // The oracle is the SAME literal-window SQL as q_span_dedup — which
    // this mode now matches by SEMANTICS, not by collision-freedom luck.
    "q_span_dedup_verified" -> ((s, dir) =>
      spanQuery(s, dir, maxDocFreq = Int.MaxValue, exactVerify = true)),
    // Benchmark decontamination: docs 0-49 act as the held-out eval set,
    // the rest as training corpus; any shared 8-token window condemns a
    // corpus doc. The planted near-dup twins straddle the id split, so
    // the flag bites at the gate. Spark compares fused xxhash64 gram
    // hashes; the oracle compares the literal token windows (the same
    // replay contract as q_span_dedup).
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contamination(
          docs.where(col("doc_id") >= 50), "doc_id", "text",
          docs.where(col("doc_id") < 50), "text", width = 8)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_contaminated"),
          round(col("contaminated_frac"), 6).as("contaminated_frac"),
          col("contaminated"))
    }),
    // Perceptual-hash image dedup: 60 block-pattern PNGs (9×8 solid
    // grayscale cells, value an integer formula of (id, x, y)) plus
    // planted twins — every 5th id RESIZED (cell 7 instead of 4) and
    // every 7th RE-ENCODED as BMP. The bytes really round-trip the JDK
    // codecs; solid cells make each decoded grid mean exact, so the
    // dHash bits, the twin collisions (hamming 0 despite different
    // bytes/resolutions/containers), and the banded pair set all replay
    // as pure integer arithmetic in DuckDB (the q_image_resize oracle
    // contract). The formula's coefficients keep non-twin images at
    // hamming ≥ 17, so the pair list is exactly the planted twins.
    "q_image_dedup" -> ((s, dir) => {
      import s.implicits._
      def v(id: Long)(x: Int, y: Int): Int =
        ((x * (37 + id * 11) + y * (23 + id * 7) + x * y * (5 + id)) % 256).toInt
      val imgs = s.range(60).as[Long].flatMap { id =>
        val base = Seq((id, graft.multimodal.Multimodal.blockPng(4, v(id))))
        val resized = if (id % 5 == 0)
          Seq((1000 + id, graft.multimodal.Multimodal.blockPng(7, v(id)))) else Nil
        val reenc = if (id % 7 == 0)
          Seq((2000 + id, graft.multimodal.Multimodal.blockPng(4, v(id), "bmp"))) else Nil
        base ++ resized ++ reenc
      }.toDF("media_id", "content")
      graft.multimodal.Multimodal.imageDupPairs(imgs, maxHamming = 3)
    })
  )

  // Nothing is cached (r18 measured a cached posting frame 1.11× SLOWER):
  // the span posting frame is the full positional explosion, and an
  // InMemoryTableScan of that wide frame costs more than re-running the
  // fused window-hash scan kernel.
  private def spanQuery(s: SparkSession, dir: String, maxDocFreq: Int,
                        exactVerify: Boolean = false): DataFrame =
    Dedup.spanDedup(Tables.documents(s, dir), "doc_id", "text",
      width = 8, minDocFreq = 2, maxDocFreq = maxDocFreq,
      exactVerify = exactVerify)
      .select(col("id").as("doc_id"), col("n_spans"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))

  private val norm =
    """trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 \t\n\x0b\f\r]', ' ', 'g'), '[ \t\n\x0b\f\r]+', ' ', 'g'))"""

  /** DuckDB replay of Spark's `xxhash64` (XXH64, seed 42) for inputs
    * under 32 bytes, generated as chained per-row CTE stages — 64-bit
    * wraparound arithmetic in HUGEINT (32×32 partial products mod 2^64),
    * rotations as disjoint shift sums, xor through UBIGINT. xxhash64 is
    * public arithmetic (Collet's XXH64), so the simhash oracle can
    * recompute fingerprints from the corpus instead of pinning the
    * engine's candidate list. Inputs ≥ 32 bytes would need the 4-lane
    * stripe loop; the generated SQL raises via error() instead of
    * returning a wrong hash (every corpus token here is ≤ 8 bytes).
    */
  private object XxSql {
    private val M = "18446744073709551616::HUGEINT"
    private val P1 = "11400714785074694791::HUGEINT"
    private val P2 = "14029467366897019727::HUGEINT"
    private val P3 = "1609587929392839161::HUGEINT"
    private val P4 = "9650029242287828579::HUGEINT"
    private val P5 = "2870177450012600261::HUGEINT"
    private def p2(b: Int): String = (BigInt(1) << b).toString + "::HUGEINT"
    private def mod64(x: String) = s"((($x) % $M + $M) % $M)"
    // 64×64→64 wraparound product from 32-bit halves (each partial < 2^97)
    private def mul64(a: String, b: String) = mod64(
      s"($a % ${p2(32)}) * ($b % ${p2(32)}) + " +
        mod64(s"(($a // ${p2(32)}) * ($b % ${p2(32)}) + " +
          s"($a % ${p2(32)}) * ($b // ${p2(32)})) * ${p2(32)}"))
    private def x64(a: String, b: String) =
      s"CAST(xor(CAST($a AS UBIGINT), CAST($b AS UBIGINT)) AS HUGEINT)"
    // rotation = disjoint (low<<r) + (high>>(64-r)) halves
    private def rotl(x: String, r: Int) =
      s"(${mod64(s"$x * ${p2(r)}")} + ($x // ${p2(64 - r)}))"
    private def shr(x: String, r: Int) = s"($x // ${p2(r)})"
    private def byteat(j: String) =
      s"(CAST(strpos('123456789abcdef', substr(hx, CAST(2*($j) + 1 AS BIGINT), 1)) AS HUGEINT) * 16" +
        s" + CAST(strpos('123456789abcdef', substr(hx, CAST(2*($j) + 2 AS BIGINT), 1)) AS HUGEINT))"
    private def laneLE(off: String, bytes: Int): String =
      (0 until bytes).map(j => s"${byteat(s"$off + $j")} * ${p2(8 * j)}").mkString(" + ")

    /** Chained CTE stages computing column `hf` (the hash, HUGEINT) from
      * columns `hx` (lowercase hex of the UTF-8 bytes) and `n` (byte
      * count, HUGEINT) of CTE `src`.
      */
    def stages(src: String): String = {
      val st = Seq.newBuilder[(String, String)]
      st += "h0" -> mod64(s"42 + $P5 + n")
      var h = "h0"
      for (k <- 0 until 3) { // 8-byte rounds at offsets 0, 8, 16 (n < 32)
        val cond = s"n >= ${8 * (k + 1)}"
        st += s"ln$k" -> s"(${laneLE((8 * k).toString, 8)})"
        st += s"a$k" -> mul64(s"ln$k", P2)
        st += s"b$k" -> rotl(s"a$k", 31)
        st += s"c$k" -> mul64(s"b$k", P1)
        st += s"d$k" -> x64(h, s"c$k")
        st += s"e$k" -> rotl(s"d$k", 27)
        st += s"f$k" -> mul64(s"e$k", P1)
        st += s"h8$k" -> s"CASE WHEN $cond THEN ${mod64(s"f$k + $P4")} ELSE $h END"
        h = s"h8$k"
      }
      st += "p4" -> "(n // 8) * 8"
      st += "c4" -> "CASE WHEN n - p4 >= 4 THEN 1 ELSE 0 END"
      st += "ln4" -> s"(${laneLE("p4", 4)})"
      st += "g1" -> mul64("ln4", P1)
      st += "g2" -> x64(h, "g1")
      st += "g3" -> rotl("g2", 23)
      st += "g4" -> mul64("g3", P2)
      st += "h4x" -> s"CASE WHEN c4 = 1 THEN ${mod64(s"g4 + $P3")} ELSE $h END"
      st += "pb" -> "p4 + CASE WHEN c4 = 1 THEN 4 ELSE 0 END"
      h = "h4x"
      for (t <- 0 until 3) { // tail bytes
        val cond = s"pb + $t < n"
        st += s"by$t" -> byteat(s"pb + $t")
        st += s"u$t" -> mul64(s"by$t", P5)
        st += s"v$t" -> x64(h, s"u$t")
        st += s"w$t" -> rotl(s"v$t", 11)
        st += s"hb$t" -> s"CASE WHEN $cond THEN ${mul64(s"w$t", P1)} ELSE $h END"
        h = s"hb$t"
      }
      st += "av1" -> x64(h, shr(h, 33))
      st += "av2" -> mul64("av1", P2)
      st += "av3" -> x64("av2", shr("av2", 29))
      st += "av4" -> mul64("av3", P3)
      st += "hf" -> x64("av4", shr("av4", 32))
      st.result().zipWithIndex.map { case ((name, expr), i) =>
        val from = if (i == 0) src else s"xs${i - 1}"
        s"xs$i AS (SELECT *, $expr AS $name FROM $from)"
      }.mkString(",\n")
    }

    def lastStage: String = "xs" + (stageCount - 1)
    private def stageCount = 1 + 3 * 8 + 9 + 3 * 5 + 5

    /** 64 per-bit vote sums (+1 set / −1 clear per token occurrence). */
    def voteCols: String = (0 until 64).map(b =>
      s"SUM(CASE WHEN (hf // ${p2(b)}) % 2 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(", ")

    /** Majority bits recombined into the UBIGINT fingerprint. */
    def fingerprintExpr: String = "CAST(" + (0 until 64).map(b =>
      s"(CASE WHEN v$b > 0 THEN ${p2(b)} ELSE 0::HUGEINT END)").mkString(" + ") +
      " AS UBIGINT)"
  }

  /** Shared SQL for exact word-3gram Jaccard pairs at a threshold.
    * `maxDocFreq` mirrors [[Dedup.ngramJaccardPairs]]: grams whose document
    * frequency exceeds the cap are excluded from intersection counts, while
    * set sizes (the denominators) stay uncapped.
    */
  private def jaccardSql(threshold: Double, maxDocFreq: Option[Int] = None): String = {
    val capFilter = maxDocFreq.map(k =>
      s"\n  WHERE a.g IN (SELECT g FROM grams GROUP BY g HAVING count(*) <= $k)")
      .getOrElse("")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(
       |    $norm, ' ') AS w
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id$capFilter
       |  GROUP BY 1, 2)
       |SELECT id1, id2,
       |  round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard
       |FROM inter
       |JOIN sizes s1 ON id1 = s1.doc_id
       |JOIN sizes s2 ON id2 = s2.doc_id
       |WHERE i * 1.0 / (s1.sz + s2.sz - i) >= $threshold""".stripMargin
  }

  /** Full SQL replay of [[Dedup.spanDedup]]: fixed-width windows with
    * 0-based positions, per-window keep-one stats, removal of non-keep
    * occurrences, covered-token union, and the cleaned token stream's md5.
    */
  private def spanSql(width: Int, maxDf: Long): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(
       |    $norm, ' ') AS w
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+${width - 1}], ' ') AS g
       |  FROM toks, unnest(range(1, len(w) - $width + 2)) AS t(i)
       |  WHERE len(w) >= $width),
       |stats AS (
       |  SELECT g, min(doc_id) AS keep_id
       |  FROM grams GROUP BY g
       |  HAVING count(DISTINCT doc_id) BETWEEN 2 AND $maxDf),
       |removals AS (
       |  SELECT gr.doc_id, gr.pos FROM grams gr JOIN stats st ON gr.g = st.g
       |  WHERE gr.doc_id <> st.keep_id),
       |tokpos AS (
       |  -- w[i] <> '' drops the phantom token string_split('') yields for
       |  -- a doc that normalizes to empty — mirrors the engine's
       |  -- normTokens (blank doc => zero tokens, not one empty token)
       |  SELECT doc_id, i, w[i] AS tok
       |  FROM toks, unnest(range(1, len(w) + 1)) AS t(i)
       |  WHERE w[i] <> ''),
       |kept AS (
       |  SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
       |  WHERE NOT EXISTS (SELECT 1 FROM removals r
       |    WHERE r.doc_id = tp.doc_id
       |      AND tp.i - 1 BETWEEN r.pos AND r.pos + ${width - 1})),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(tok, ' ' ORDER BY i) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |rc AS (SELECT doc_id, count(*) AS n_spans FROM removals GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(rc.n_spans, 0) AS INTEGER) AS n_spans,
       |  CAST(coalesce(a.n_kept, 0) AS INTEGER) AS n_kept,
       |  md5(coalesce(a.clean_text, '')) AS clean_md5
       |FROM documents d
       |LEFT JOIN rc ON d.doc_id = rc.doc_id
       |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin

  private lazy val dupClustersSql: String =
    s"""WITH RECURSIVE jac AS (
         |${jaccardSql(0.2, maxDocFreq = Some(15))}),
         |e AS (SELECT id1 AS a, id2 AS b FROM jac
         |      UNION SELECT id2 AS a, id1 AS b FROM jac),
         |reach(a, b) AS (
         |  SELECT a, a FROM e
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
         |SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1""".stripMargin

  /** MinHash index stores are pure functions of (application, sfDir,
    * appended) — built once per JVM like SimQ.servedIndexDir, so the bench
    * loop re-times the QUERY path (the serving operator), not 23 rebuilds
    * of the same store. `appended = false`: fit on doc_id % 3 != 0;
    * `appended = true`: plus the % 3 == 0 batch appended.
    */
  private val mhDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  private def mhIndexDir(s: SparkSession, dir: String, appended: Boolean): String =
    mhDirs.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:$appended", {
        val d = graft.util.Tmp.root("graft_mhidx").toString
        val docs = Tables.documents(s, dir)
        DedupIndex.write(docs.where(col("doc_id") % 3 =!= 0),
          "doc_id", "text", d)
        if (appended)
          DedupIndex.append(docs.where(col("doc_id") % 3 === 0),
            "doc_id", "text", d)
        d
      })

  /** The [[mhIndexDir]] grown store SHRUNK by [[DedupIndex.delete]] of
    * every even doc_id; the `compacted` twin additionally folds the
    * postings (reclaiming the deleted rows — the fresh generation carries
    * no tombstones). The build REQUIRES the delete to bite: the
    * tombstoned store must answer strictly fewer near-dup hits than the
    * undeleted grown store, so the query can never go green with a
    * mask that silently matches nothing.
    */
  private def mhDeleteDir(s: SparkSession, dir: String,
                          compacted: Boolean): String =
    mhDirs.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:del:$compacted", {
        val d = graft.util.Tmp.root("graft_mhidx_d").toString
        val docs = Tables.documents(s, dir)
        DedupIndex.write(docs.where(col("doc_id") % 3 =!= 0),
          "doc_id", "text", d)
        DedupIndex.append(docs.where(col("doc_id") % 3 === 0),
          "doc_id", "text", d)
        DedupIndex.delete(
          docs.where(col("doc_id") % 2 === 0).select(col("doc_id")),
          "doc_id", d)
        if (!compacted) {
          val batch = docs.where(col("doc_id") % 5 === 0)
          val hitsDel = DedupIndex.query(batch, "doc_id", "text", d,
            threshold = 0.5).count()
          val hitsAll = DedupIndex.query(batch, "doc_id", "text",
            mhIndexDir(s, dir, appended = true), threshold = 0.5).count()
          require(hitsDel < hitsAll,
            s"q_dedup_index_delete fixture: the delete must bite " +
              s"($hitsDel hits with tombstones vs $hitsAll without)")
        } else DedupIndex.compact(s, d)
        d
      })

  /** The [[mhIndexDir]] grown store, built from FOUR micro-appends (the
    * ingestStream fragmentation shape) and then FOLDED by
    * [[DedupIndex.compact]] — so q_dedup_index_compacted serves the same
    * logical store as q_dedup_index_append through a compacted layout,
    * against the same oracle.
    */
  private def mhCompactedDir(s: SparkSession, dir: String): String =
    mhDirs.getOrElseUpdate(
      s"${s.sparkContext.applicationId}:$dir:compacted", {
        val d = graft.util.Tmp.root("graft_mhidx_c").toString
        val docs = Tables.documents(s, dir)
        DedupIndex.write(docs.where(col("doc_id") % 3 =!= 0),
          "doc_id", "text", d)
        (0 until 4).foreach { k =>
          DedupIndex.append(
            docs.where(col("doc_id") % 3 === 0 && col("doc_id") % 4 === k),
            "doc_id", "text", d, tag = s"b$k")
        }
        DedupIndex.compact(s, d)
        d
      })

  /** Exact cross-set Jaccard ≥ threshold between a query side and an
    * index side (predicates over `a.doc_id` / `b.doc_id`) — the oracle of
    * the persisted-index queries, mirroring [[jaccardSql]]'s gram model.
    */
  private def crossJaccardSql(qPred: String, iPred: String,
                              threshold: Double,
                              extraCols: String = ""): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(
       |    $norm, ' ') AS w
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS query_id, b.doc_id AS index_id, count(*) AS i
       |  FROM grams a JOIN grams b ON a.g = b.g
       |  WHERE $qPred AND $iPred AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT query_id, index_id,
       |  round(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jaccard$extraCols
       |FROM inter
       |JOIN sizes s1 ON query_id = s1.doc_id
       |JOIN sizes s2 ON index_id = s2.doc_id
       |WHERE i * 1.0 / (s1.sz + s2.sz - i) >= $threshold""".stripMargin

  /** The greedy ingestion recursion, unrolled: batch k survives against
    * base ∪ survivors of batches < k. Same gram/Jaccard model as
    * [[crossJaccardSql]]; `dup` holds every exact near-dup pair once per
    * direction.
    */
  private val streamIngestSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(
       |    $norm, ' ') AS w
       |  FROM documents),
       |grams AS (
       |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
       |  FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
       |  WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS q, b.doc_id AS i, count(*) AS c
       |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |dup AS (
       |  SELECT q, i FROM inter
       |  JOIN sizes s1 ON q = s1.doc_id JOIN sizes s2 ON i = s2.doc_id
       |  WHERE c * 1.0 / (s1.sz + s2.sz - c) >= 0.5),
       |base AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0),
       |s0 AS (
       |  SELECT doc_id FROM documents d
       |  WHERE doc_id % 3 = 0 AND doc_id % 4 = 0 AND NOT EXISTS (
       |    SELECT 1 FROM dup JOIN base ON dup.i = base.doc_id
       |    WHERE dup.q = d.doc_id)),
       |ix1 AS (SELECT doc_id FROM base UNION ALL SELECT doc_id FROM s0),
       |s1 AS (
       |  SELECT doc_id FROM documents d
       |  WHERE doc_id % 3 = 0 AND doc_id % 4 = 1 AND NOT EXISTS (
       |    SELECT 1 FROM dup JOIN ix1 ON dup.i = ix1.doc_id
       |    WHERE dup.q = d.doc_id)),
       |ix2 AS (SELECT doc_id FROM ix1 UNION ALL SELECT doc_id FROM s1),
       |s2 AS (
       |  SELECT doc_id FROM documents d
       |  WHERE doc_id % 3 = 0 AND doc_id % 4 = 2 AND NOT EXISTS (
       |    SELECT 1 FROM dup JOIN ix2 ON dup.i = ix2.doc_id
       |    WHERE dup.q = d.doc_id)),
       |ix3 AS (SELECT doc_id FROM ix2 UNION ALL SELECT doc_id FROM s2),
       |s3 AS (
       |  SELECT doc_id FROM documents d
       |  WHERE doc_id % 3 = 0 AND doc_id % 4 = 3 AND NOT EXISTS (
       |    SELECT 1 FROM dup JOIN ix3 ON dup.i = ix3.doc_id
       |    WHERE dup.q = d.doc_id))
       |SELECT doc_id FROM s0 UNION ALL SELECT doc_id FROM s1
       |UNION ALL SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM s3""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_stream_ingest" -> streamIngestSql,
    "q_dedup_index" ->
      crossJaccardSql("a.doc_id % 3 = 0 AND a.doc_id < 100000000",
        "b.doc_id % 3 <> 0", 0.5),
    "q_dedup_index_append" ->
      crossJaccardSql("a.doc_id % 5 = 0", "TRUE", 0.5),
    // compaction must not change answers: the compacted store's oracle
    // is the append store's, verbatim
    "q_dedup_index_compacted" ->
      crossJaccardSql("a.doc_id % 5 = 0", "TRUE", 0.5),
    // the deleted (even) ids are erased from the index side; the
    // compacted twin must answer identically, derived TRUE
    "q_dedup_index_delete" ->
      crossJaccardSql("a.doc_id % 5 = 0", "b.doc_id % 2 <> 0", 0.5,
        extraCols = ", TRUE AS matches_compacted"),
    "q_dedup_ingest" ->
      s"""WITH dups AS (
         |  SELECT DISTINCT query_id FROM (
         |    ${crossJaccardSql("a.doc_id % 3 = 0", "b.doc_id % 3 <> 0", 0.5)}))
         |SELECT doc_id FROM documents
         |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT query_id FROM dups)""".stripMargin,
    "q_span_dedup" -> spanSql(8, Long.MaxValue),
    "q_span_dedup_capped" -> spanSql(8, 2L),
    // identical literal-window replay: the verified mode's contract IS
    // the oracle's semantics (it compares real windows, not hashes)
    "q_span_dedup_verified" -> spanSql(8, Long.MaxValue),
    "q_decontaminate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(
         |    $norm, ' ') AS w
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
         |  FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
         |  WHERE len(w) >= 8),
         |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id < 50),
         |hit AS (
         |  SELECT cg.doc_id, count(*) AS n_grams,
         |    sum(CASE WHEN bg.g IS NOT NULL THEN 1 ELSE 0 END) AS n_cont
         |  FROM grams cg LEFT JOIN bg ON cg.g = bg.g
         |  WHERE cg.doc_id >= 50
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(h.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(h.n_cont, 0) AS BIGINT) AS n_contaminated,
         |  round(coalesce(h.n_cont * 1.0 / h.n_grams, 0.0), 6)
         |    AS contaminated_frac,
         |  coalesce(h.n_cont, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
         |WHERE d.doc_id >= 50""".stripMargin,
    // Full arithmetic replay (no pinning): the decoded grid of each
    // fixture is its generating formula (solid cells), so the oracle
    // re-derives every dHash bit and compares all pairs at the
    // bit-position level — no 64-bit assembly, no banding needed for
    // correctness (4×16-bit banding at hamming ≤ 3 is recall-lossless
    // by pigeonhole, so engine pair set == all-pairs pair set).
    "q_image_dedup" ->
      """WITH ids AS (SELECT range AS id FROM range(60)),
        |imgs AS (
        |  SELECT id AS vid, id FROM ids
        |  UNION ALL SELECT 1000 + id, id FROM ids WHERE id % 5 = 0
        |  UNION ALL SELECT 2000 + id, id FROM ids WHERE id % 7 = 0),
        |lum AS (
        |  SELECT vid, x.range AS x, y.range AS y,
        |    (x.range * (37 + id * 11) + y.range * (23 + id * 7)
        |      + x.range * y.range * (5 + id)) % 256 AS v
        |  FROM imgs, range(9) x, range(8) y),
        |bits AS (
        |  SELECT a.vid, a.x, a.y, a.v > b.v AS bit
        |  FROM lum a JOIN lum b ON a.vid = b.vid AND a.y = b.y AND b.x = a.x + 1
        |  WHERE a.x < 8)
        |SELECT a.vid AS id1, b.vid AS id2,
        |  CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS INTEGER)
        |    AS hamming
        |FROM bits a JOIN bits b ON a.x = b.x AND a.y = b.y AND a.vid < b.vid
        |GROUP BY 1, 2
        |HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 3""".stripMargin,
    "q_exact_dedup" ->
      s"""WITH all_docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 100000, text FROM documents)
         |SELECT md5($norm) AS text_hash,
         |       count(*) AS n_docs, min(doc_id) AS keep_id
         |FROM all_docs GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    "q_ngram_jaccard" -> jaccardSql(0.2, maxDocFreq = Some(15)),
    "q_dup_clusters_large" -> dupClustersSql,
    "q_dup_clusters" -> dupClustersSql,
    "q_ngram_jaccard_capped" -> jaccardSql(0.2, maxDocFreq = Some(5)),
    "q_minhash_dedup" -> jaccardSql(0.5),
    // FULL recompute, no pinned literals: DuckDB rebuilds every simhash
    // fingerprint from the corpus — tokens → xxhash64 (XXH64 seed 42,
    // replayed as unrolled HUGEINT arithmetic, see XxSql) → per-bit
    // majority votes → 64-bit fingerprint — then takes ALL pairs at
    // Hamming ≤ 3. That equals the engine's banded candidate set exactly
    // (pigeonhole: distance ≤ 3 ⇒ some 16-bit band matches), and the
    // jaccard column is recomputed from the corpus as before.
    "q_simhash_pairs" ->
      s"""WITH tokrows AS (
         |  SELECT doc_id, unnest(string_split(
         |    $norm, ' ')) AS tok
         |  FROM documents),
         |tok_h AS (
         |  SELECT doc_id, lower(hex(encode(tok))) AS hx,
         |    CASE WHEN octet_length(encode(tok)) >= 32
         |         THEN CAST(error('token >= 32 bytes: xxh64 oracle covers the short path only') AS HUGEINT)
         |         ELSE CAST(octet_length(encode(tok)) AS HUGEINT) END AS n
         |  FROM tokrows),
         |${XxSql.stages("tok_h")},
         |votes AS (
         |  SELECT doc_id, ${XxSql.voteCols}
         |  FROM ${XxSql.lastStage} GROUP BY doc_id),
         |fp AS (SELECT doc_id, ${XxSql.fingerprintExpr} AS sh FROM votes),
         |pairs AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |         CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
         |toks AS (
         |  SELECT doc_id, string_split(
         |    $norm, ' ') AS w
         |  FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
         |  FROM toks, unnest(range(1, len(w) - 1)) AS t(i)
         |  WHERE len(w) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
         |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT CAST(p.id1 AS BIGINT) AS id1, CAST(p.id2 AS BIGINT) AS id2,
         |  CAST(p.hamming AS INTEGER) AS hamming,
         |  round(coalesce(inter.i, 0) * 1.0
         |    / (s1.sz + s2.sz - coalesce(inter.i, 0)), 6) AS jaccard
         |FROM pairs p
         |JOIN sizes s1 ON p.id1 = s1.doc_id
         |JOIN sizes s2 ON p.id2 = s2.doc_id
         |LEFT JOIN inter ON p.id1 = inter.id1 AND p.id2 = inter.id2""".stripMargin,
    "q_embedding_dedup" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        |    6) AS cosine
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(a.e, b.e)
        |    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
        |    >= 0.45""".stripMargin
  )
}
