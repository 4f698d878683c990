package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** Bounded LRU cache for trained serve-time models (PQ codebooks, SQ/BQ
  * quantizer bounds, classifier weights). Overflow evicts the LEAST
  * RECENTLY USED entry only — never the whole map: a long-lived session
  * cycling registration-scoped tags must not dump every other corpus's
  * hot model and force retrains (persisted entries reload from disk;
  * persist=false entries retrain — both at most once, and only for the
  * evicted key).
  */
private[operators] final class ModelCache[V](maxEntries: Int = 64) {
  private val m = new java.util.LinkedHashMap[String, V](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, V]): Boolean =
      size() > maxEntries
  }

  /** Atomic lookup-or-train; `f` runs at most once per key while cached. */
  def getOrElseUpdate(key: String)(f: => V): V = m.synchronized {
    val cur = m.get(key)
    if (cur != null) cur
    else { val v = f; m.put(key, v); v }
  }

  private[operators] def size: Int = m.synchronized(m.size())
  private[operators] def contains(key: String): Boolean =
    m.synchronized(m.containsKey(key))
}

/** Filesystem probes through the Hadoop FileSystem API, so persisted
  * index/model artifacts may live on ANY supported filesystem (HDFS,
  * S3A, local). `java.io.File` would silently report a remote artifact
  * as missing and retrain/rewrite on every JVM — wrong at 100 TB, where
  * the artifact store is never the local disk.
  */
private[graft] object FsUtil {
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Create an empty marker file (e.g. a build-complete flag written
    * LAST, so its existence implies the whole artifact landed).
    */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true).close()
  }

  /** Read a parquet store dir the engine wrote, with no schema-inference
    * job: `spark.read.parquet(dir)` infers the schema in a Spark job
    * that opens a data file's footer, while this opens the footer of the
    * first data file found on the driver and reads the Spark schema the
    * writer stored there. Partition columns are still discovered from
    * the directory names, as before. A dir with no such footer falls
    * back to inference (and its usual error on a dir with no data).
    */
  def readStore(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    // depth first to one data file; `_` and `.` entries are not data
    def firstFile(d: Path): Option[Path] = {
      val (dirs, files) = fs.listStatus(d)
        .filterNot(st => st.getPath.getName.startsWith("_") ||
          st.getPath.getName.startsWith("."))
        .partition(_.isDirectory)
      files.map(_.getPath).find(_.getName.endsWith(".parquet"))
        .orElse(dirs.iterator.map(st => firstFile(st.getPath))
          .collectFirst { case Some(f) => f })
    }
    val schema = (if (fs.isDirectory(root)) firstFile(root) else None).flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      finally reader.close()
    }
    schema.fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))
  }
}
