package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.Similarity.{Dim, dot}

/** The literal-vector expression forms the fused codegen expressions
  * replaced — kept as the reference the equivalence specs pin the
  * operators against, bit-for-bit. No operator uses them.
  */
object LegacyForms {

  /** Scored (cosine ∝ dot against unit centroids) struct array — the
    * form [[Similarity.bestCell]] / [[Similarity.topCells]] replaced:
    * numCells inline literal vectors whose source changed with every
    * centroid set, defeating the codegen cache on each kmeans iteration /
    * retrain and riding the C2 JIT cliff at ≥100 centroids.
    */
  def cellScores(emb: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      struct(dot(typedLit(c.toSeq), emb).as("s"), lit(i).as("i"))
    }: _*)

  /** Nearest codebook entry by L2 over the subvector:
    * argmin ‖v−c‖² = argmax(dot(c,v) − ‖c‖²/2); ties to the larger code.
    * The per-subspace form [[Similarity.nearestCodesCol]] replaced: m·ksub
    * inline struct trees whose scalar bias literals defeated the codegen
    * cache on every fresh codebook.
    */
  def nearestCode(book: Array[Array[Double]], v: Column): Column =
    array_max(array(book.zipWithIndex.map { case (c, i) =>
      struct((dot(typedLit(c.toSeq), v) - lit(0.5 * c.map(x => x * x).sum)).as("s"),
        lit(i).as("i"))
    }: _*)).getField("i")

  /** The literal-table ADC chain [[Similarity.adcScore]] replaced. */
  def adcScore(
      books: Array[Array[Array[Double]]], emb: Column, codes: Column): Column = {
    val sub = Dim / books.length
    books.indices.map { s =>
      dot(slice(emb, s * sub + 1, sub),
        element_at(typedLit(books(s).map(_.toSeq).toSeq), codes(s) + 1))
    }.reduce(_ + _)
  }
}
