package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sync-mode gate + canonical-hash change detection
  * (reference A10–A13: sync_mode enum firebase/app/helpers.py:42-46,
  * gate artifacts.py:382-406, hash compare helpers.py:61-67).
  *
  * The reference stubs SYNC (artifacts.py:396-402) and has a falsy-
  * return bug in remote_msg_needs_update (helpers.py:61-67); we
  * implement the *intended* semantics — "write iff no stored hash or
  * hash changed" — as a left-anti join of the incoming batch against
  * the hash store on (id, hash). Documented deviation per SURVEY §7.4.
  * The per-subscription mode dispatch is `streaming.Pipeline.gateMulti`;
  * its SYNC branch is [[needsUpdate]]. Both are the batch form of the
  * gate (q_sync_antijoin, q_pipeline_e2e).
  *
  * The stream applies the same gate without a join: in
  * `streaming.Pipeline.batchPass` the batch rows and the stored hashes
  * are shuffled together by store bucket, and each key's winner is
  * compared with its stored hash in the sorted key run. The store is
  * parquet rewritten per micro-batch, only in the buckets whose hashes
  * changed (`streaming.HashStore`), never collected to the driver.
  */
object SyncGate {
  sealed trait SyncMode
  case object Sync extends SyncMode
  case object Forward extends SyncMode
  case object Consume extends SyncMode
  case object NoneMode extends SyncMode

  def parseMode(s: String): SyncMode = s.toLowerCase match {
    case "sync" => Sync
    case "forward" => Forward
    case "consume" => Consume
    case _ => NoneMode
  }

  /** Rows that need writing: no stored row for the key, or its stored
    * hash differs. `keys` names the identity columns plus the hash
    * column; both sides must carry all of them. */
  def needsUpdate(incoming: DataFrame, hashStore: DataFrame,
                  keys: Seq[String]): DataFrame =
    incoming.join(hashStore.select(keys.map(col): _*), keys, "left_anti")
}
