package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Raw upsert-topic record (pre-decode): key/value JSON strings plus
  * the offset (in-batch ordering) and record time (micros). A
  * tombstone arrives with `v = null`. */
final case class UpsertRec(k: String, v: String, offset: Long, tsUs: Long)

/** One signed changelog row: `sign = +1` adds the JSON-encoded value to
  * downstream state, `-1` retracts it — the (+U/-U/+I/-D) alphabet of
  * a retract stream collapsed to the arithmetic that fold-able
  * aggregates need. `ord` is the ARRIVAL ORDER of the row being
  * added/retracted — the topic offset of the record that ADDED the
  * value (a retraction carries its add's offset, so an (ord, value)
  * pair cancels exactly) — the order key Flink's FIRST_VALUE /
  * LAST_VALUE aggregate over. */
final case class SignedRec(k: String, v: String, sign: Int, tsUs: Long, ord: Long)

/** Upsert-changelog normalization — the Spark form of Flink's
  * `ChangelogNormalize` operator (the reference's managed engine
  * inserts it whenever a query aggregates over an upsert/compacted
  * topic such as `shoe_customers_keyed`,
  * `terraform/lab-aggregations/main.tf:396,431`): per primary key, each
  * incoming revision is expanded into a RETRACTION of the key's prior
  * version followed by an ADDITION of the new one; a tombstone emits
  * the retraction alone. Downstream, any sum-decomposable aggregate
  * folds the signed rows into exactly the aggregate over the table's
  * LATEST state (the per-key contributions telescope).
  *
  * Scale shape: one shuffle on the key (the same exchange the
  * downstream keyed aggregate needs anyway); state = ONE value per
  * live key (the compacted-topic working set), sharded by that
  * exchange, checkpoint-recovered across restarts. The per-group sort
  * is over ONE key's rows within ONE micro-batch — bounded by the
  * key's per-trigger revision count, never the corpus.
  *
  * Consumers: the retraction-folding and merge aggregates, which keep
  * no row state of their own. The regular join does NOT use this
  * operator: it normalizes upsert dims per batch against its
  * `JoinState` snapshot, which already holds each key's current row.
  */
object ChangelogNormalize {

  /** One decoded retract-topic row headed into provenance matching:
    * `content` = the row's data columns as canonical JSON (the -U
    * alphabet names rows BY VALUE), `op` its changelog tag, `offset`
    * the record offset, `tsUs` the record time in micros. */
  final case class RetractRow(content: String, op: String, offset: Long, tsUs: Long)

  /** Attach ADD-PROVENANCE to a retract-mode changelog (round 15): a
    * -U/-D names only a row VALUE, so arrival-ordered aggregates
    * (first/last) cannot know WHICH copy it cancels. Flink's
    * retractable FIRST_VALUE/LAST_VALUE resolve this with a per-value
    * ORDER LIST (`FirstValueWithRetractAggFunction`'s MapView state),
    * retracting the EARLIEST pending copy — the FIFO convention this
    * operator reproduces: state = per live row-content the queue of
    * add offsets not yet retracted; an add pushes its offset and
    * emits +1 with it; a retraction pops the queue head and emits −1
    * with THAT offset, so downstream (ord, value) multiset pairs
    * cancel exactly. A retraction with no pending add (a malformed
    * feed) emits ord = −1 — its pair nets ≤ 0 and never surfaces in a
    * stat, so it cannot corrupt first/last, only under-count like the
    * malformed feed itself would.
    *
    * Scale shape: one shuffle on the row content; state = pending-add
    * queues of LIVE copies only (a fully-retracted content removes its
    * state) — exactly the multiset the semantics require, the same
    * bound Flink's MapView carries. Checkpoint-recovered. */
  def normalizeRetract(rows: Dataset[RetractRow]): Dataset[SignedRec] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .groupByKey(_.content)
      .flatMapGroupsWithState[Vector[Long], SignedRec](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (content: String, rs: Iterator[RetractRow], state) =>
          var pending = state.getOption.getOrElse(Vector.empty[Long])
          val out = List.newBuilder[SignedRec]
          rs.toSeq.sortBy(_.offset).foreach { r =>
            if (r.op == "-U" || r.op == "-D") {
              val ord = pending.headOption.getOrElse(-1L)
              if (pending.nonEmpty) pending = pending.tail
              out += SignedRec(content, content, -1, r.tsUs, ord)
            } else {
              pending = pending :+ r.offset
              out += SignedRec(content, content, +1, r.tsUs, r.offset)
            }
          }
          if (pending.isEmpty) state.remove() else state.update(pending)
          out.result().iterator
      }
  }

  /** Normalize raw upsert-topic records (the `Topics.recordSchema`
    * shape, TOMBSTONES INCLUDED) into signed revision rows. Within a
    * micro-batch a key's revisions apply in OFFSET order — the topic's
    * total order per key — so cross-revision retractions pair up
    * deterministically regardless of shuffle arrival order.
    *
    * CHECKPOINT-FORMAT NOTE (restart contract): round 15 widened this
    * operator's per-key state from `String` (current value) to
    * `(String, Long)` (value, offset of its add) to carry the
    * provenance first/last fold over. A runner restarted on a
    * checkpoint written BEFORE that change fails state deserialization
    * here — start such a pipeline on a fresh checkpoint/topic root
    * (new TopicConf). Checkpoints written at or after round 15 restart
    * cleanly (StreamingRestartSpec). */
  def normalizeUpsert(records: DataFrame): Dataset[SignedRec] = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      .select(col("key").cast("string").as("k"), col("value").cast("string").as("v"),
        col("offset"), unix_micros(col("timestamp")).as("tsUs"))
      .as[UpsertRec]
      .groupByKey(_.k)
      .flatMapGroupsWithState[(String, Long), SignedRec](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[UpsertRec], state) =>
          // state = (current value, offset of the record that added it):
          // the retraction emitted for a revision names the PRIOR add's
          // offset, so downstream (ord, value) multisets cancel exactly
          var cur = state.getOption
          val out = List.newBuilder[SignedRec]
          rows.toSeq.sortBy(_.offset).foreach { r =>
            cur.foreach { case (old, oldOrd) =>
              out += SignedRec(k, old, -1, r.tsUs, oldOrd)
            }
            if (r.v != null) {
              out += SignedRec(k, r.v, +1, r.tsUs, r.offset)
              cur = Some((r.v, r.offset))
              state.update((r.v, r.offset))
            } else {
              cur = None
              state.remove()
            }
          }
          out.result().iterator
      }
  }
}
