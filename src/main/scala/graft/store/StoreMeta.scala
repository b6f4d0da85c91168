package graft.store

import org.apache.spark.sql.SparkSession

/** One-row store-metadata sidecar every persistent retrieval store
  * carries next to its data (`assigned_meta`, `codes_meta`,
  * `postings_meta`, `postings_pos_meta`): the quantizer stamp `qfp`, the
  * cell geometry the rows were derived under (`cell_bits` = −1 for stores
  * whose cell is a learned k-means assignment, not an SRP code, and for
  * BM25 stores, which have no cell), and the on-disk `format_version`.
  * BM25 stores have no quantizer and stamp `qfp` = 0.
  *
  * A store checks a stamp it recorded itself, never a guess from its
  * files: load, append and delete read the meta FIRST, and a missing
  * meta, a meta dir left empty by a crash (0 rows) or a different
  * `format_version` all refuse with the same rebuild hint before any
  * write lands. Written and read ON THE DRIVER ([[TinyParquet]]) — three
  * longs never justified a distributed write job plus a schema-inference
  * + collect round trip per load. Still plain parquet on disk.
  */
object StoreMeta {

  /** The layout version current writers stamp; bump it when a store's
    * on-disk layout changes, so stores written under the old layout
    * refuse instead of being misread.
    */
  val FormatVersion = 1L

  private val schema = org.apache.parquet.schema.MessageTypeParser
    .parseMessageType("message graft_store_meta { required int64 qfp; " +
      "required int64 cell_bits; required int64 format_version; }")

  def write(spark: SparkSession, path: String, qfp: Long, cellBits: Int): Unit =
    TinyParquet.writeGroups(spark, path, schema, f =>
      Seq(f.newGroup().append("qfp", qfp).append("cell_bits", cellBits.toLong)
        .append("format_version", FormatVersion)))

  /** The stored (qfp, cell_bits) of the meta at `path`. `what` names the
    * store in the refusal and `rebuild` the save function that rebuilds
    * it.
    */
  def read(spark: SparkSession, path: String, what: String, rebuild: String): (Long, Int) = {
    def refuse(why: String, cause: Throwable = null) =
      throw new IllegalStateException(
        s"$what has $why at $path — rebuild the store with $rebuild " +
          "before serving, appending or deleting", cause)
    val rows =
      try TinyParquet.readGroups(spark, path)
      catch { case e: java.io.FileNotFoundException => refuse("no store meta", e) }
    if (rows.isEmpty) refuse("an empty store meta (a torn write)")
    require(rows.length == 1, s"torn store meta at $path: ${rows.length} rows")
    val g = rows.head
    val version =
      if (g.getType.containsField("format_version")) TinyParquet.long(g, "format_version")
      else 0L
    if (version != FormatVersion)
      refuse(s"store meta format_version $version, expected $FormatVersion")
    (TinyParquet.long(g, "qfp"), TinyParquet.long(g, "cell_bits").toInt)
  }

  /** [[read]], then refuse a store whose recorded quantizer stamp
    * differs from the `supplied` one; returns the stored `cell_bits`.
    */
  def verify(
      spark: SparkSession, path: String, what: String, rebuild: String,
      supplied: Long): Int = {
    val (stored, cellBits) = read(spark, path, what, rebuild)
    require(stored == supplied,
      s"$what at $path was written under a DIFFERENT quantizer " +
        s"(stored stamp $stored, supplied stamp $supplied) — serving or " +
        "appending with mismatched centroids/codebooks silently returns " +
        "wrong neighbors; retrain and rewrite the store, or load the " +
        "matching quantizer artifacts")
    cellBits
  }
}
