package perfbench

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** On-disk facts about a store directory, read from the file system and
  * the parquet footers.
  */
object StoreLayout {

  private def files(spark: SparkSession, path: String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) out += it.next()
    }
    out.result()
  }

  /** Row groups over every parquet file under `path`. */
  def rowGroups(spark: SparkSession, path: String): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    files(spark, path).filter(_.getPath.getName.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRowGroups.size finally r.close()
    }.sum.toDouble
  }

  /** (data files, bytes) under `path`, hidden and marker files excluded. */
  def filesAndBytes(spark: SparkSession, path: String): (Int, Long) = {
    val data = files(spark, path).filterNot { f =>
      val n = f.getPath.getName
      n.startsWith(".") || n.startsWith("_")
    }
    (data.length, data.map(_.getLen).sum)
  }
}
