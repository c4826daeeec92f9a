package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** First-writer-wins keyed parquet sink — the reference's idempotent
  * write re-expressed (handler.py:135-161 + idempotency_service.py:30:
  * sha256 "op:identifier" key, skip if already present, write+mark
  * otherwise).
  *
  * The "already completed?" check is an anti-join of the incoming batch
  * against the distinct keys already in the target — fully distributed,
  * no driver-side listing. At 100 TB the target would be key-partitioned
  * so the anti-join prunes to touched partitions (or reads a compact key
  * manifest); semantics are identical.
  */
object IdempotentSink {

  /** Returns (written, skipped). Duplicate keys inside the batch also
    * resolve first-writer-wins (min by key order of arrival is not
    * defined on an unordered batch, so the row with min sort-key wins
    * deterministically via the provided tiebreak column).
    *
    * The input is materialized once, so `written + skipped` counts the
    * same rows the write saw even when `df` is non-deterministic or
    * costly to recompute (unless the caller already cached it). */
  def writeKeyed(df: DataFrame, keyCol: String, tiebreak: String, path: String): (Long, Long) = {
    val spark = df.sparkSession
    val owned = df.storageLevel == StorageLevel.NONE
    val input = if (owned) df.persist() else df
    try {
      val incomingTotal = input.count()
      // dedupe inside the batch, deterministically
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keyCol).orderBy(col(tiebreak))
      val batch = input.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      // Only a genuinely-absent target means "first write": fs.exists
      // returns false only for absence, while a transient read failure
      // (IO, eventual consistency) still throws and propagates — skipping
      // the anti-join on an IO blip would append duplicates and silently
      // break the first-writer-wins invariant.
      val target = new org.apache.hadoop.fs.Path(path)
      val targetExists =
        target.getFileSystem(spark.sessionState.newHadoopConf()).exists(target)
      val fresh =
        if (!targetExists) batch
        else {
          // the batch's key field as the read schema: no inference job
          val existing = spark.read.schema(StructType(Seq(batch.schema(keyCol))))
            .parquet(path).distinct()
          batch.join(existing, Seq(keyCol), "left_anti")
        }
      // One materialization: count() and write() must see the same rows
      // (recomputation between them could race a concurrent writer).
      fresh.persist()
      try {
        val written = fresh.count()
        if (written > 0) fresh.write.mode(SaveMode.Append).parquet(path)
        (written, incomingTotal - written)
      } finally fresh.unpersist()
    } finally if (owned) input.unpersist()
  }
}
