package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Delta-style MERGE upsert rewritten for plain Spark (SURVEY.md §2a S7, §2c J5).
  *
  * Reference: `MERGE INTO silver USING updates ON t.event_id = s.event_id
  * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  * (`04_silver_transformation.py:196-202`). With no Delta log available, the
  * same semantics are an anti-join + union: rows of the target whose key does
  * not appear in the updates, plus all update rows.
  *
  * Scale: the anti-join is planned before either side has run, so unless
  * the planner's size estimate of the updates' key set is under the
  * broadcast threshold, it is a sort-merge join that shuffles BOTH sides,
  * the whole target included. AQE can switch it to a broadcast join only
  * after those shuffles are written: that saves the sort, not the
  * shuffle. A caller that knows its updates are small (a daily increment
  * ≪ the accumulated table) says so with a `broadcast` hint on them, which
  * reaches the key-set side, and restricts the target to what the updates
  * can touch, as [[graft.pipeline.SeismicPipeline]] does. Updates must be
  * unique per key (dedup upstream) or the "UPDATE SET *" would be
  * ambiguous — same constraint Delta MERGE enforces.
  */
object Upsert {

  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    replace(target, updates, updates, keys)

  /** [[upsert]] with automatic schema evolution — Delta's
    * `mergeSchema`/`autoMerge` behavior: updates may ADD columns (target
    * survivors read null there) and may omit target columns (update rows
    * read null there). Delta guards evolution behind a flag because a
    * typo'd column silently widens the table; callers here opt in by
    * choosing this variant, and [[upsert]] stays strict.
    */
  def upsertEvolve(target: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    replace(target, updates, updates, keys, allowMissingColumns = true)

  /** Full MERGE with a tombstone flag — `WHEN MATCHED AND s.deleted THEN
    * DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND NOT deleted
    * THEN INSERT` — the CDC-feed shape (Debezium-style change rows).
    * Tombstoned keys vanish from the result; a tombstone for an absent
    * key is a no-op, so replaying a feed is idempotent.
    *
    * @param tombstoneCol boolean column on `updates`; it is dropped from
    *                     the survivors before the union
    */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
      tombstoneCol: String): DataFrame =
    // one anti-join against ALL changed keys: updates replace, tombstones
    // remove — either way the target's old row must not survive
    replace(target, updates,
      updates.filter(!col(tombstoneCol)).drop(tombstoneCol), keys)

  /** Target rows whose key is not among `changed`'s keys, plus `rows`. */
  private def replace(target: DataFrame, changed: DataFrame, rows: DataFrame,
      keys: Seq[String], allowMissingColumns: Boolean = false): DataFrame =
    target
      .join(changed.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(rows, allowMissingColumns)
}
