package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Similarity, TextAnalysis}
import graft.operators.TextAnalysis.Bm25Stats

/** The stamped-meta lifecycle of the persistent retrieval stores: both
  * BM25 postings kinds run save → append → delete → load through one
  * lifecycle and refuse a store whose meta is missing, empty or of
  * another format version before touching a file; IVF and PQ stores
  * refuse an empty meta the same way; and the driver-side sidecar I/O
  * interoperates with Spark's parquet in both directions.
  */
class StoreLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded 120-document corpus over a 12-word vocabulary, with a
    * zero-token document and a repeated "stream window" phrase.
    */
  private lazy val allDocs = {
    val words = Seq("vector", "stream", "window", "index", "store", "batch",
      "query", "token", "phrase", "cell", "merge", "serve")
    val rng = new scala.util.Random(7)
    (1L to 120L).map { id =>
      val text =
        if (id == 60L) ""
        else Seq.fill(3 + rng.nextInt(9))(words(rng.nextInt(words.size))).mkString(" ") +
          (if (id % 4 == 0) " stream window" else "")
      (id, text)
    }.toDF("doc_id", "text").cache()
  }

  /** 200 seeded `Similarity.Dim`-wide float vectors. */
  private lazy val embeddings = {
    val rng = new scala.util.Random(11)
    (0L until 200L).map(id => (id, Array.fill(Similarity.Dim)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").cache()
  }

  /** One BM25 postings kind, by its public lifecycle entry points. */
  private case class Kind(
      name: String, postings: String, rebuild: String,
      save: (String, DataFrame) => Unit,
      append: (String, DataFrame) => Unit,
      delete: (String, String) => DataFrame,
      load: String => (DataFrame, DataFrame),
      serve: (DataFrame, DataFrame, Option[Bm25Stats]) => DataFrame)

  private val deleted = col("doc_id") % 3 === 1

  private val kinds = Seq(
    Kind("term", "postings", "saveBm25Index",
      TextAnalysis.saveBm25Index(spark, _, _),
      TextAnalysis.appendBm25Index(spark, _, _),
      TextAnalysis.deleteFromBm25Index(spark, _, _, deleted),
      TextAnalysis.loadBm25Index(spark, _),
      (p, d, st) => TextAnalysis.bm25TopKFromIndex(
        p, d, Seq("vector", "stream", "window"), 20, st)),
    Kind("phrase", "postings_pos", "saveBm25Positional",
      TextAnalysis.saveBm25Positional(spark, _, _),
      TextAnalysis.appendBm25Positional(spark, _, _),
      TextAnalysis.deleteFromBm25Positional(spark, _, _, deleted),
      TextAnalysis.loadBm25Positional(spark, _),
      (p, d, st) => TextAnalysis.phraseTopKFromIndex(
        p, d, Seq("stream", "window"), 20, st)))

  private def served(k: Kind, dir: String): Seq[String] = {
    val (p, d) = k.load(dir)
    k.serve(p, d, TextAnalysis.loadBm25Stats(spark, dir)).collect().map(_.toString).toSeq
  }

  /** Every file under `dir` with its size — what a refused call must
    * leave exactly as it found it.
    */
  private def listing(dir: String): Set[(String, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => (root.relativize(f).toString, Files.size(f))).toSet
    finally s.close()
  }

  private def emptyDir(dir: String): Unit = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toList.foreach((f: Path) => Files.delete(f))
    finally s.close()
  }

  private def deleteTree(dir: String): Unit = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toList.reverse.foreach((f: Path) => Files.delete(f))
    finally s.close()
  }

  kinds.foreach { k =>
    test(s"${k.name} store: save → append → delete → load serves like a one-shot save of the survivors") {
      val wd = Files.createTempDirectory(s"lifecycle-${k.name}").toString
      k.save(s"$wd/v1", allDocs.filter(col("doc_id") % 2 === 0))
      k.append(s"$wd/v1", allDocs.filter(col("doc_id") % 2 === 1))
      val audit = k.delete(s"$wd/v1", s"$wd/v2")
      assert(audit.select("n_deleted").as[Long].head() === allDocs.filter(deleted).count())
      k.save(s"$wd/fresh", allDocs.filter(!deleted))
      val survivors = served(k, s"$wd/fresh")
      assert(survivors.nonEmpty)
      assert(served(k, s"$wd/v2") === survivors)
      assert(TextAnalysis.loadBm25Stats(spark, s"$wd/v2")
        === TextAnalysis.loadBm25Stats(spark, s"$wd/fresh"))
      assert(TextAnalysis.verifyBm25Stats(spark, s"$wd/v2"))
      // the first append into an empty dir creates and stamps the store
      k.append(s"$wd/acc", allDocs.filter(!deleted && col("doc_id") % 2 === 0))
      assert(new java.io.File(s"$wd/acc/${k.postings}_meta").isDirectory)
      k.append(s"$wd/acc", allDocs.filter(!deleted && col("doc_id") % 2 === 1))
      assert(served(k, s"$wd/acc") === survivors)
    }

    test(s"${k.name} store: load, append and delete refuse a missing, empty or other-version meta before any write") {
      val wd = Files.createTempDirectory(s"refuse-${k.name}").toString
      val small = allDocs.limit(20)
      val corruptions: Seq[(String, String => Unit)] = Seq(
        "missing" -> (m => deleteTree(m)),
        "empty" -> (m => emptyDir(m)),
        "version" -> (m => Seq((0L, -1L, StoreMeta.FormatVersion + 1))
          .toDF("qfp", "cell_bits", "format_version")
          .coalesce(1).write.mode("overwrite").parquet(m)))
      corruptions.foreach { case (what, corrupt) =>
        val dir = s"$wd/$what"
        k.save(dir, small)
        corrupt(s"$dir/${k.postings}_meta")
        val before = listing(dir)
        val calls: Seq[(String, () => Any)] = Seq(
          "load" -> (() => k.load(dir)),
          "append" -> (() => k.append(dir, allDocs.limit(3))),
          "delete" -> (() => k.delete(dir, s"$wd/$what-out")))
        calls.foreach { case (op, call) =>
          val e = intercept[IllegalStateException](call())
          assert(e.getMessage.contains(s"rebuild the store with ${k.rebuild}"), s"$what/$op")
          assert(listing(dir) === before, s"$what/$op touched the store")
        }
        assert(!new java.io.File(s"$wd/$what-out").exists, s"$what: delete wrote a version")
      }
    }
  }

  test("an empty meta dir left by a crash refuses with the rebuild hint for IVF, PQ, BM25 and phrase stores") {
    val emb = embeddings
    val wd = Files.createTempDirectory("emptymeta").toString
    val cents = Similarity.kmeansCentroids(emb, numCells = 4, iters = 1, salt = "meta")
    Similarity.saveIvfAssigned(spark, wd, Similarity.assignIvfCells(emb, cents), cents)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 4, iters = 1)
    Similarity.savePqCodes(spark, wd, Similarity.encodePqCodes(emb, books), books)
    TextAnalysis.saveBm25Index(spark, wd, allDocs.limit(20))
    TextAnalysis.saveBm25Positional(spark, wd, allDocs.limit(20))
    val loads: Seq[(String, String, () => Any)] = Seq(
      ("assigned_meta", "saveIvfAssigned", () => Similarity.loadIvfAssigned(spark, wd, cents)),
      ("codes_meta", "savePqCodes", () => Similarity.loadPqCodes(spark, wd, books)),
      ("postings_meta", "saveBm25Index", () => TextAnalysis.loadBm25Index(spark, wd)),
      ("postings_pos_meta", "saveBm25Positional", () => TextAnalysis.loadBm25Positional(spark, wd)))
    loads.foreach { case (meta, rebuild, load) =>
      load() // stamped: serves
      emptyDir(s"$wd/$meta")
      val e = intercept[IllegalStateException](load())
      assert(e.getMessage.contains("empty store meta"), meta)
      assert(e.getMessage.contains(s"rebuild the store with $rebuild"), meta)
    }
  }

  test("sidecars round-trip between Spark and TinyParquet, and mixed generations sum in loadBm25Stats") {
    val wd = Files.createTempDirectory("sidecar").toString
    // Spark-written (snappy, nullable INT32 and INT64 columns) → TinyParquet
    Seq((3, 40L), (5, 60L)).toDF("n_docs", "a_tokens")
      .coalesce(1).write.parquet(s"$wd/spark")
    assert(TinyParquet.readGroups(spark, s"$wd/spark")
      .map(g => (TinyParquet.long(g, "n_docs"), TinyParquet.long(g, "a_tokens")))
      .toSet === Set((3L, 40L), (5L, 60L)))
    // TinyParquet-written (writeGroups, then appendGroups) → Spark
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 n_docs; required int64 a_tokens; }")
    def row(n: Long, a: Long) = (f: org.apache.parquet.example.data.simple.SimpleGroupFactory) =>
      Seq(f.newGroup().append("n_docs", n).append("a_tokens", a))
    TinyParquet.writeGroups(spark, s"$wd/tiny", schema, row(1L, 2L))
    TinyParquet.appendGroups(spark, s"$wd/tiny", schema, row(7L, 9L))
    assert(spark.read.parquet(s"$wd/tiny").as[(Long, Long)].collect().toSet
      === Set((1L, 2L), (7L, 9L)))
    // one stats dir holding both generations sums through loadBm25Stats
    TextAnalysis.saveBm25Index(spark, s"$wd/store", allDocs.limit(20))
    val own = TextAnalysis.loadBm25Stats(spark, s"$wd/store").get
    Seq((2, 11L)).toDF("n_docs", "a_tokens")
      .coalesce(1).write.mode("append").parquet(s"$wd/store/stats")
    assert(TextAnalysis.loadBm25Stats(spark, s"$wd/store")
      === Some(Bm25Stats(own.nDocs + 2L, own.aTokens + 11L)))
  }
}
