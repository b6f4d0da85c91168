package org.apache.spark.sql.graft

import java.io.CharArrayWriter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.json.{JSONOptions, JacksonGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.internal.SQLConf

/** `df.toJSON.collect()` on the driver, for a frame whose optimized plan
  * is a local relation (rows already fetched): the same generator, schema
  * and options `Dataset.toJSON` runs per partition, applied to the
  * relation's rows in order — so a response built from fetched rows
  * renders without another Spark job. None for any other plan.
  * `JacksonGenerator` is `private[sql]`, hence the bridge package (the
  * [[ColumnBridge]] pattern).
  */
object LocalJson {
  def rows(df: DataFrame): Option[Seq[String]] = df.queryExecution.optimizedPlan match {
    case r: LocalRelation if !r.isStreaming =>
      val conf = df.sparkSession.sessionState.conf
      SQLConf.withExistingConf(conf) {
        val writer = new CharArrayWriter()
        val gen = new JacksonGenerator(df.schema, writer,
          new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
        val out = r.data.map { row =>
          gen.write(row)
          gen.flush()
          val json = writer.toString
          writer.reset()
          json
        }
        gen.close()
        Some(out)
      }
    case _ => None
  }
}
