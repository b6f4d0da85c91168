package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

/** The reference resubmitter's three composed entry modes — by explicit
  * ids, by publish-time interval, by generic query
  * (resubmitter-api/lib/resubmitter/resubmitter_job.go:93,147,202) — each
  * chaining the full replay pipeline: index query → blob-record join
  * (fetch + deserialize) → metadata repackaging → ordered publish plan
  * (resubmitter_job.go:263-271 `groupings → fetch → packaging → publish`).
  *
  * graft's stages are [[QueryService]] → [[Replay.positionalJoin]] →
  * [[Replay.repackagedMetadata]] → [[Replay.orderedForPublish]]; this type
  * is the seam that composes them, so a caller replaying an outage has ONE
  * entry per reference mode instead of hand-wiring four operators.
  *
  * Scale shape: the index slice is a pushed-down scan; the join is the
  * replay's one shuffle (broadcast when the slice is selective — the
  * common outage-replay case, steered by `broadcastIndex`); repackaging is
  * a projection; the publish plan repartitions keyed rows by ordering key
  * and salts keyless rows round-robin (see [[Replay.orderedForPublish]]).
  * Nothing is collected to the driver; the reference's offset-paged drain
  * (resubmitter_job.go:155-199) collapses into the unpaged filter because
  * Spark's scan IS the batch loop.
  */
final case class Resubmitter(
    service: QueryService,
    records: DataFrame,
    broadcastIndex: Boolean = false,
    /** Route single-record blobs with NULL positions through the J3
      * short-circuit ([[Replay.positionalJoinWithSingletons]],
      * resubmitter.go:166-201) — needed only for stores written by OTHER
      * writers; this engine's persist pipeline always stores positions,
      * so the default skips the per-blob window the short-circuit costs.
      */
    singletons: Boolean = false) {

  /** Mode 1 — resubmit an explicit id list (resubmitter_job.go:93-101,
    * `batchesFromIds` draining GetAll batch by batch).
    */
  def byIds(ids: Seq[String]): ResubmitRun =
    run(service.getAll(ids))

  /** Mode 1 at corpus scale: the id set as a frame (J4 semi-join), for
    * replays driven by a manifest instead of a request body.
    */
  def byIdSet(ids: DataFrame): ResubmitRun =
    run(service.getAllJoin(ids))

  /** Mode 2 — resubmit a publish-time interval for one broker
    * (resubmitter_job.go:147-199).
    */
  def byInterval(
      from: Timestamp,
      to: Timestamp,
      brokerId: String,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()))
      : ResubmitRun =
    run(service.allInInterval(from, to, brokerId, now))

  /** Mode 3 — resubmit everything matching a generic OR-of-conjunctions
    * query (resubmitter_job.go:202-260). Throws IllegalArgumentException
    * on non-whitelisted keys / bad operators, exactly like the queried
    * index endpoint (the facade maps it to a 400).
    */
  def byQuery(filters: Seq[Map[String, FilterValue]]): ResubmitRun =
    run(service.allQueried(filters))

  private def run(slice: DataFrame): ResubmitRun = {
    val joined =
      if (singletons)
        Replay.positionalJoinWithSingletons(records, slice, broadcastIndex)
      else Replay.positionalJoin(records, slice, broadcastIndex)
    val packaged = Replay.repackagedMetadata(joined)
    ResubmitRun(slice, Replay.orderedForPublish(packaged))
  }
}

/** One composed resubmission: the queried index slice and the
  * publish-ready plan (repackaged attributes, keyed rows partitioned by
  * ordering key and sorted by publish position, keyless rows salted).
  * Both lazy. Their row counts are the reference's job counters
  * (resubmitter_job.go:28-58: indexed / fetched-deserialized-publishable):
  * `indexed` rows that never reach `publish` failed the
  * fetch/deserialize stage — the reference would tag them
  * storage/deserialization errors, and the facade's status rule counts
  * them as pipeline errors.
  */
final case class ResubmitRun(indexed: DataFrame, publish: DataFrame)
