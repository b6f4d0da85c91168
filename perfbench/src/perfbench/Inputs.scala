package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's inputs. The fixed tables under `perfbench/data` are a
  * copy of the repository's deterministic synthetic test tables (scale
  * factor 0.001); everything a workload derives from them is a function of
  * `--seed` alone.
  */
object Inputs {
  /** Messages per backlog file: the persistor's default batch size. */
  val FileMessages = 5000

  /** Copy the fixed tables into `dst`, so the program reads only this
    * run's own files.
    */
  def copyTables(src: Path, dst: Path): String = {
    Files.createDirectories(dst)
    val s = Files.list(src)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
      Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
    dst.toString
  }

  /** A seeded backlog of event files and what was put into it. */
  final case class Backlog(dir: String, files: Int, messages: Long, nullTs: Long,
      payloadBytes: Long, idShift: Long) {
    def events(spark: SparkSession): DataFrame = spark.read.parquet(dir)
  }

  /** Write `files` parquet files of [[FileMessages]] events each: the base
    * events replicated with shifted ids. The seed picks the id shift (a
    * multiple of the file size, so no 100-message blob spans two files),
    * the share of events whose `ts` is null (they must take the
    * dead-letter path), and the order in which the files arrive (their
    * modification times, which the file source drains oldest first).
    */
  def backlog(spark: SparkSession, tablesDir: String, out: Path, files: Int,
      rnd: java.util.Random): Backlog = {
    val base = graft.Tables(spark, tablesDir).events
    val baseRows = base.count()
    require(FileMessages % baseRows == 0, s"$baseRows base events do not tile a file")
    val perFile = FileMessages / baseRows
    val idShift = (1 + rnd.nextInt(1000)).toLong * 1000 * FileMessages
    val nullPpm = 10000 + rnd.nextInt(40000) // 1 % .. 5 %
    val arrival = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until files).toList)
    val staged = out.resolveSibling(out.getFileName.toString + ".staging")
    base
      .crossJoin(spark.range(files * perFile).withColumnRenamed("id", "rep"))
      .select(
        (col("rep") * baseRows + col("event_id") + idShift).as("event_id"),
        when(pmod(xxhash64(col("rep"), col("event_id"), lit(idShift)), lit(1000000L)) < nullPpm,
          lit(null).cast("timestamp")).otherwise(col("ts")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"),
        (col("rep") / perFile).cast("int").as("file_no"))
      .repartition(files, col("file_no"))
      .sortWithinPartitions("file_no", "event_id")
      .write.partitionBy("file_no").parquet(staged.toString)
    Files.createDirectories(out)
    val t0 = System.currentTimeMillis() - 1000L * (files + 10)
    (0 until files).foreach { f =>
      val part = Files2.dataFiles(staged.resolve(s"file_no=$f"))
      require(part.size == 1, s"file $f was written as ${part.size} parts")
      val dst = out.resolve(f"events-$f%04d.parquet")
      Files.move(part.head, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 1000L * arrival(f)))
    }
    Files2.deleteTree(staged)
    val s = spark.read.parquet(out.toString)
      .agg(count(lit(1)), count(when(col("ts").isNull, 1)),
        coalesce(sum(octet_length(col("props"))), lit(0L))).head()
    Backlog(out.toString, files, s.getLong(0), s.getLong(1), s.getLong(2), idShift)
  }
}
