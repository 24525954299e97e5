package perfbench

import graft.dedup.DedupIndex
import graft.sim.Similarity
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.util.Random

/** The persisted-store lifecycle, replayed in traced `batch_queries` runs
  * for the `sim.*`, `dedup.*` and `store.*` layer metrics: writes beside
  * reads on an SQ×IVF vector index and a MinHash dedup index.
  *
  * Set-up: fit both indexes on seeded base corpora, start the two public
  * stream drivers (`Streams.sqIvfIndexStream`, `DedupIndex.ingestStream`)
  * on file-source streams and pre-stage every micro-batch as one parquet
  * file. Each tick publishes one embedding and one document batch and
  * drives both streams to completion (folds included), then reads:
  * `openSqIvfIndex` + `sqIvfServeIndex` on a fixed query set and
  * `DedupIndex.query` on a fixed document batch.
  * Checks: k-NN results against exact top-k by cosine over the live
  * vectors (recall@10 floor), and dedup survivors against the count the
  * generator guarantees (fresh documents survive, planted near-copies of
  * indexed documents do not).
  */
object StoreReplay {

  val Dim = 32
  val NList = 8
  val BaseVectors = 1000
  val BatchVectors = 50
  val BaseDocs = 300
  val FreshDocs = 12
  val CopyDocs = 4
  val Words = 40
  val Vocab = 20000
  val Queries = 20
  val K = 10
  /** Extension-dir budget of the vector stream's fold trigger: a fold
    * every second batch, so a few ticks cover whole fold cycles.
    */
  val FoldMaxExtDirs = 2
  /** Measured ticks (two fold cycles) after one untimed tick. */
  val Ticks = 4
  val MaxTicks: Int = Ticks + 1
  /** Lowest recall@10 of the SQ×IVF serve accepted as correct. */
  val RecallFloor = 0.6

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(DoubleType))))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Write `rows` as one parquet file per batch under `dir/b=<batch>`. */
  private def stage(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    dir: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        schema.add("b", IntegerType))
      .repartition(col("b")).write.partitionBy("b").mode(SaveMode.Overwrite)
      .parquet(dir)

  /** Move batch `b`'s staged file into a stream's source directory. */
  private def publish(staged: String, b: Int, src: String): Long = {
    val part = new java.io.File(s"$staged/b=$b").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val len = part.length()
    Files.move(part.toPath, Paths.get(src, f"batch$b%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    len
  }

  def run(c: Ctx, report: Report): Unit = {
    val spark = c.spark
    val rnd = new Random(c.seed)

    // ---- seeded corpora: vectors and documents, all held here for checks
    def vec(): Array[Double] = Array.fill(Dim)(rnd.nextGaussian())
    val vectors = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    (0 until BaseVectors + MaxTicks * BatchVectors).foreach(_ => vectors += vec())
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(Vocab))
    val baseDocs = (0 until BaseDocs).map(i => words(Words))
    var nextDoc = BaseDocs.toLong
    val docBatches = (0 until MaxTicks).map { _ =>
      val fresh = Seq.fill(FreshDocs)(words(Words).mkString(" "))
      // near-copies of indexed base documents: the last two words changed
      val copies = Seq.fill(CopyDocs) {
        val d = baseDocs(rnd.nextInt(BaseDocs))
        (d.dropRight(2) ++ words(2)).mkString(" ")
      }
      rnd.shuffle(fresh ++ copies).map { t => nextDoc += 1; (nextDoc - 1, t) }
    }
    val queryVecs = Array.fill(Queries)(vec())
    val queryDocs = Seq.fill(Queries)(words(Words).mkString(" ")) ++
      Seq.fill(4)((baseDocs(rnd.nextInt(BaseDocs)).dropRight(1) ++ words(1)).mkString(" "))

    // ---- stores and streams
    val idx = c.path("sqivf")
    val dd = c.path("dedup")
    val embSrc = c.path("emb_src"); val docSrc = c.path("doc_src")
    Seq(embSrc, docSrc).foreach(d => Files.createDirectories(Paths.get(d)))
    val base = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until BaseVectors).map(i => Row(i.toLong, vectors(i).toSeq)), 1), vecSchema)
    base.write.parquet(c.path("emb_base"))
    Similarity.writeSqIvfIndex(spark.read.parquet(c.path("emb_base")),
      "vec_id", "embedding", idx, dim = Dim, nlist = NList, seed = c.seed)
    DedupIndex.write(spark.createDataFrame(spark.sparkContext.parallelize(
      baseDocs.zipWithIndex.map { case (d, i) => Row(i.toLong, d.mkString(" ")) }, 1),
      docSchema), "doc_id", "text", dd)
    stage(spark, (0 until MaxTicks).flatMap { b =>
      (0 until BatchVectors).map { j =>
        val id = BaseVectors + b * BatchVectors + j
        Row(id.toLong, vectors(id).toSeq, b)
      }
    }, vecSchema, c.path("emb_staged"))
    stage(spark, docBatches.zipWithIndex.flatMap { case (ds, b) =>
      ds.map { case (id, t) => Row(id, t, b) } }, docSchema, c.path("doc_staged"))
    val corpus: SparkSession => DataFrame = s =>
      s.read.parquet(c.path("emb_base")).unionByName(s.read.schema(vecSchema).parquet(embSrc))
    val embQ = Streams.sqIvfIndexStream(
      spark.readStream.schema(vecSchema).option("maxFilesPerTrigger", "1").parquet(embSrc),
      "vec_id", "embedding", idx, c.path("emb_ckpt"), corpus,
      foldMaxExtDirs = FoldMaxExtDirs)
    val docQ = DedupIndex.ingestStream(
        spark.readStream.schema(docSchema).option("maxFilesPerTrigger", "1").parquet(docSrc),
        "doc_id", "text", dd, c.path("survivors"))
      .option("checkpointLocation", c.path("doc_ckpt")).start()
    val qv = spark.createDataFrame(spark.sparkContext.parallelize(
      queryVecs.zipWithIndex.map { case (v, i) => Row(-1L - i, v.toSeq) }.toSeq, 1), vecSchema)
    val qd = spark.createDataFrame(spark.sparkContext.parallelize(
      queryDocs.zipWithIndex.map { case (t, i) => Row(-1L - i, t) }, 1), docSchema)

    var ticks = 0
    var inputBytes = 0L
    var foldCount = 0
    var extMax = 0
    val appendS, foldS, dedupAppendS, openS, serveS, dqueryS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var recallHits = 0L; var recallAll = 0L
    val written = scala.collection.mutable.Map.empty[String, Long]
    // every data file the stores ever held (folds delete some), for the
    // write amplification
    def noteFiles(): Unit = Seq(idx, dd).foreach { root =>
      val files = Files.walk(Paths.get(root))
      try files.filter(Files.isRegularFile(_)).forEach { p =>
        val n = p.getFileName.toString
        if (!n.startsWith(".") && !n.startsWith("_")) written.getOrElseUpdate(p.toString, Files.size(p))
      } finally files.close()
    }
    noteFiles()
    val before = written.values.sum

    /** One write: a vector batch and a document batch through their streams. */
    def write(): Unit = {
      val b = ticks
      inputBytes += publish(c.path("emb_staged"), b, embSrc)
      inputBytes += publish(c.path("doc_staged"), b, docSrc)
      val e = Report.secs(embQ.processAllAvailable())
      val ext = Similarity.streamExtensionDirCount(spark, idx)
      extMax = math.max(extMax, ext)
      if (ext == 0) { foldCount += 1; foldS += e } else appendS += e
      dedupAppendS += Report.secs(docQ.processAllAvailable())
      ticks += 1
    }

    /** One read on each store; checks the k-NN answer. */
    def read(): Boolean = {
      var index: Similarity.SqIvfIndex = null
      openS += Report.secs { index = Similarity.openSqIvfIndex(spark, idx) }
      var hits: Array[Row] = null
      serveS += Report.secs {
        hits = Similarity.sqIvfServeIndex(index, qv, "vec_id", "embedding", k = K)
          .select("query_id", "id").collect()
      }
      var dups = 0L
      dqueryS += Report.secs { dups = DedupIndex.query(qd, "doc_id", "text", dd).count() }
      val live = BaseVectors + ticks * BatchVectors
      val got = hits.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      queryVecs.indices.foreach { i =>
        val exact = (0 until live).sortBy(j => -cosine(queryVecs(i), vectors(j))).take(K).map(_.toLong).toSet
        recallHits += (got.getOrElse(-1L - i, Set.empty[Long]) intersect exact).size
        recallAll += K
      }
      // the four planted near-copies are found; fresh queries match nothing
      dups == 4
    }

    // one untimed tick, then whole fold cycles
    write(); read(); noteFiles()
    recallHits = 0; recallAll = 0
    Seq(appendS, foldS, dedupAppendS, openS, serveS, dqueryS).foreach(_.clear())
    val foldsBefore = foldCount
    var reads = true
    (0 until Ticks).foreach { _ => write(); reads &&= read(); noteFiles() }
    embQ.stop(); docQ.stop()
    noteFiles()

    // survivors: every fresh document, none of the planted copies
    val survivors = spark.read.option("recursiveFileLookup", "true")
      .parquet(c.path("survivors")).count()
    val ingested = ticks.toLong * (FreshDocs + CopyDocs)
    report.check(survivors == ticks.toLong * FreshDocs,
      s"dedup survivors $survivors, expected ${ticks.toLong * FreshDocs}")
    report.check(reads, "dedup query missed a planted near-copy or matched a fresh document")
    val recall = recallHits.toDouble / math.max(1L, recallAll)
    report.check(recall >= RecallFloor, s"recall@$K $recall below floor $RecallFloor")
    report.check(foldCount - foldsBefore >= 2, s"${foldCount - foldsBefore} folds, expected 2")
    val (files, _) = Seq(idx, dd).map(StoreLayout.filesAndBytes(spark, _))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    report.layers("sim.append_s") = Report.median(appendS.toSeq)
    report.layers("sim.fold_s") = Report.median(foldS.toSeq)
    report.layers("sim.folds") = (foldCount - foldsBefore).toDouble
    report.layers("sim.ext_dirs_max") = extMax.toDouble
    report.layers("sim.open_s") = Report.median(openS.toSeq)
    report.layers("sim.serve_s") = Report.median(serveS.toSeq)
    report.layers("sim.recall_at_10") = recall
    report.layers("dedup.query_s") = Report.median(dqueryS.toSeq)
    report.layers("dedup.append_s") = Report.median(dedupAppendS.toSeq)
    report.layers("dedup.survivor_ratio") = survivors.toDouble / ingested
    report.layers("store.write_amp") = (written.values.sum - before).toDouble / inputBytes
    report.layers("store.files") = files.toDouble
  }
}
