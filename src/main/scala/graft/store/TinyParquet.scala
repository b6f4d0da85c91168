package graft.store

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession

/** Driver-side parquet I/O for METADATA-sized store sidecars (the 1-row
  * [[StoreMeta]] stamps, the per-batch corpus-stats rows, the cells×dim
  * centroid/codebook tables — tens of bytes to a few KB each).
  *
  * Reading 16 bytes through a distributed Spark job costs a full
  * schema-inference + collect round trip (two jobs, ~50-150 ms of
  * scheduler/AQE ceremony apiece — the JobProfile ledger of every
  * lifecycle query is dominated by exactly these); a production driver
  * reads a sidecar the way a catalog reads table properties: directly.
  * This helper does the same through the parquet-hadoop reader Spark
  * itself bundles — the FILES are unchanged, standard parquet that
  * `spark.read.parquet` still understands (the writer half emits plain
  * parquet too, so old and new store versions interoperate both ways),
  * and every value still comes from the store on disk per invocation —
  * nothing is memoized across calls.
  *
  * Strictly for metadata tables whose size is bounded by the OPERATOR
  * (rows ≤ cells×dim / m·ksub·sub / one per append batch) — never for
  * anything corpus-sized, which must stay a distributed scan.
  */
object TinyParquet {

  private def conf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  private def dataFiles(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) throw new java.io.FileNotFoundException(
      s"Path does not exist: $dir")
    def visible(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // deterministic file order (FileSystem.listStatus order is
    // unspecified); row order within a file is the written order
    fs.listStatus(p).toSeq.filter(s => visible(s) && !s.isDirectory && s.getLen > 0)
      .map(_.getPath).sortBy(_.toString)
  }

  /** Every row of every data file directly under `dir`, as parquet
    * example Groups, file order lexicographic. Bounded by the caller's
    * metadata-size contract.
    */
  def readGroups(spark: SparkSession, dir: String): Seq[Group] = {
    val out = ArrayBuffer[Group]()
    dataFiles(spark, dir).foreach { f =>
      val r = ParquetReader.builder(new GroupReadSupport(), f)
        .withConf(conf(spark)).build()
      try {
        var g = r.read()
        while (g != null) { out += g; g = r.read() }
      } finally r.close()
    }
    out.toSeq
  }

  /** Integer field as Long, whether the file stores INT32 or INT64 —
    * store versions written by Spark (`toDF` of Int vs Long columns) and
    * by [[writeGroups]] must both read back.
    */
  def long(g: Group, field: String): Long = {
    val t = g.getType.getType(field).asPrimitiveType().getPrimitiveTypeName
    t match {
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 =>
        g.getLong(field, 0)
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32 =>
        g.getInteger(field, 0).toLong
      case other => throw new IllegalStateException(
        s"field $field is $other, expected an integer type")
    }
  }

  /** FP field as Double (raw IEEE-754 bits — parquet DOUBLE round-trips
    * bit-exactly, the same contract the Spark-written stores rely on).
    */
  def double(g: Group, field: String): Double = {
    val t = g.getType.getType(field).asPrimitiveType().getPrimitiveTypeName
    t match {
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE =>
        g.getDouble(field, 0)
      case org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.FLOAT =>
        g.getFloat(field, 0).toDouble
      case other => throw new IllegalStateException(
        s"field $field is $other, expected a floating-point type")
    }
  }

  /** Overwrite `dir` with ONE parquet file holding `rows` (built against
    * `schema` via the supplied group factory callback) — the driver-side
    * twin of `df.coalesce(1).write.mode("overwrite")` for tables whose
    * rows already live on the driver (quantizer stamps, centroid/codebook
    * coordinate dumps). Uncompressed: these files are KBs, and skipping
    * the codec keeps the write dependency-free.
    */
  def writeGroups(
      spark: SparkSession, dir: String, schema: MessageType,
      rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf(spark))
    if (fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    writeOneFile(spark, new Path(p, "part-00000-graft.parquet"), schema, rows)
  }

  /** Accrete `rows` as ONE NEW uniquely-named parquet file under `dir`
    * (created if absent) — the driver-side twin of
    * `df.coalesce(1).write.mode("append")` for per-batch sidecar rows
    * (the bm25 stats table). Nothing existing is read or touched, so a
    * live reader's files are never overwritten; file names are
    * irrelevant to readers ([[readGroups]] order only matters up to the
    * caller's commutative merge).
    */
  def appendGroups(
      spark: SparkSession, dir: String, schema: MessageType,
      rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf(spark))
    if (!fs.exists(p)) fs.mkdirs(p)
    val name = s"part-${java.util.UUID.randomUUID().toString}-graft.parquet"
    writeOneFile(spark, new Path(p, name), schema, rows)
  }

  private def writeOneFile(
      spark: SparkSession, file: Path, schema: MessageType,
      rows: SimpleGroupFactory => Seq[Group]): Unit = {
    val w = ExampleParquetWriter.builder(file)
      .withConf(conf(spark))
      .withType(schema)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
  }
}
