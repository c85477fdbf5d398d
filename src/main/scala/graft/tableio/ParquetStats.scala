package graft.tableio

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Row counts from parquet FOOTER metadata — the moral equivalent of an
 * Iceberg manifest's record-count stats (TableIO.commit records the same
 * numbers at write time). ANN knob sizing (IVF cells ~ √n, LSH bits ~
 * log2 n) needs only n, and a `count()` action is a full extra table scan
 * per query at the 100-TB design point (round-3 verdict #4); the footers
 * answer in O(files) driver-side metadata reads, cached per listing per
 * JVM. `read` reuses a table's inferred schema the same way.
 */
object ParquetStats {

  // Keyed on the listing fingerprint (path plus every data file's name,
  // length and modification time): a rewritten or appended table at the
  // same path (long-lived session, regenerated sf dir, growing checkpoint
  // table) changes its listing, so a count or schema refreshes instead of
  // serving a stale value (round-4 advice #2). The listing itself is a
  // driver-side metadata read done on every call; only the footer reads
  // and the schema inference are cached.
  private val counts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Drop all cached counts and schemas (test hook / explicit refresh). */
  def invalidate(): Unit = { counts.clear(); schemas.clear() }

  private final case class Listing(files: Seq[FileStatus], fingerprint: String)

  /** The file at `path`, or every data file under it (recursive:
    * partitioned layouts have `key=value` subdirectories; `_`/`.`-prefixed
    * entries such as `_SUCCESS` or `_temporary` are skipped), driver-side
    * metadata listing only, with the fingerprint that keys the caches. */
  private def listing(spark: SparkSession, path: String): Listing = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith("_") || name.startsWith(".")) Seq.empty
      else if (st.isDirectory) walk(st.getPath)
      else if (name.endsWith(".parquet") || name.startsWith("part-")) Seq(st)
      else Seq.empty
    }
    val root = fs.getFileStatus(p)
    val files = if (root.isDirectory) walk(p) else Seq(root)
    Listing(files, files
      .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      .sorted.mkString(p.toString + "|", ";", ""))
  }

  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] =
    listing(spark, path).files

  /** `spark.read.parquet(path)` without the schema-inference job: the
    * schema Spark infers is cached under the listing fingerprint, and a
    * read whose listing is unchanged passes it to the reader, which then
    * only lists files (~10 ms instead of 70-75 ms for the inference job on
    * a 4-core host). The first read of a listing pays the inference. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = listing(spark, path).fingerprint
    Option(schemas.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, df.schema)
        df
    }
  }

  /** Per-data-file record counts (recursive), from footers only — the
    * layout evidence for output-sizing gates (`maxRecordsPerFile`). */
  def fileRowCounts(spark: SparkSession, path: String): Seq[Long] =
    fileRowCounts(spark, dataFiles(spark, path))

  private def fileRowCounts(spark: SparkSession, files: Seq[FileStatus]): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try r.getRecordCount finally r.close()
    }
  }

  /** Per-data-file (min, max) statistics envelope of an INT64 column
    * (timestamps included — parquet stores TIMESTAMP_MICROS as INT64),
    * one pair per file, from footers only. Pairwise-DISJOINT envelopes
    * across files are the property that makes min/max data skipping
    * effective: a range predicate then prunes whole files' row groups. */
  def int64Envelopes(
      spark: SparkSession, path: String, column: String): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, path).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try {
        val stats = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .filter(_.getPath.toDotString == column).map(_.getStatistics)
        }
        require(stats.nonEmpty, s"no stats for $column in ${f.getPath}")
        (stats.map(_.genericGetMin match {
          case l: java.lang.Long => l.longValue
          case o => o.toString.toLong
        }).min,
          stats.map(_.genericGetMax match {
            case l: java.lang.Long => l.longValue
            case o => o.toString.toLong
          }).max)
      } finally r.close()
    }
  }

  /** Footer (min, max, rows) of an INT64 column for ONE data file — the
    * per-file stats an Iceberg manifest carries, and exactly what
    * copy-on-write MERGE pruning needs: a file can hold a matched key
    * only if its envelope contains one. Driver-side metadata read. */
  def int64FileStats(spark: SparkSession, filePath: String,
                     column: String): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(filePath), conf))
    try {
      val stats = r.getFooter.getBlocks.asScala.flatMap { b =>
        b.getColumns.asScala
          .filter(_.getPath.toDotString == column).map(_.getStatistics)
      }
      require(stats.nonEmpty, s"no stats for $column in $filePath")
      def asLong(o: Any): Long = o match {
        case l: java.lang.Long => l.longValue
        case other => other.toString.toLong
      }
      (stats.map(s => asLong(s.genericGetMin)).min,
        stats.map(s => asLong(s.genericGetMax)).max,
        r.getRecordCount)
    } finally r.close()
  }

  /** Per-ROW-GROUP footer stats of an INT64 column across a parquet
    * dir: (min, max, bloom-filter present). The q110 gate reads these
    * to prove the min/max envelopes alone could NOT have pruned (every
    * group spans the probed key) while the bloom filters could (offsets
    * present in every group). */
  def int64GroupStats(spark: SparkSession, path: String,
                      column: String): Seq[(Long, Long, Boolean)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def asLong(o: Any): Long = o match {
      case l: java.lang.Long => l.longValue
      case other => other.toString.toLong
    }
    dataFiles(spark, path).flatMap { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
      try {
        r.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .getOrElse(throw new IllegalArgumentException(
              s"no column $column in ${f.getPath}"))
          (asLong(c.getStatistics.genericGetMin),
            asLong(c.getStatistics.genericGetMax),
            c.getBloomFilterOffset >= 0)
        }
      } finally r.close()
    }
  }

  /** Total rows of a parquet file or directory, from footers only. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val l = listing(spark, path)
    counts.computeIfAbsent(l.fingerprint, _ => fileRowCounts(spark, l.files).sum)
  }
}
