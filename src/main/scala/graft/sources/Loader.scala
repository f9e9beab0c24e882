package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Load-side semantics — Spark-first re-expression of the reference
  * loaders (loaders/simple_loader.py truncate-and-load;
  * loaders/database_loader.py PK-conflict upsert; core/batch_processor.py
  * checkpoint/resume). Sinks are parquet; the merge policies are pure
  * DataFrame ops so they run distributed and land atomically via
  * overwrite-by-directory.
  */
object Loader {

  /** Truncate-and-load (ref simple_loader.py): full overwrite. */
  def truncateAndLoad(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** PK upsert, keep the winning row per key by `orderCol` descending
    * (ref database_loader.py ON CONFLICT semantics; incoming rows win
    * ties via the source rank). One shuffle on the key.
    */
  def upsertKeepLatest(existing: DataFrame, incoming: DataFrame,
                       keys: Seq[String], orderCol: String): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col("__src").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__src")
  }

  /** Apply a CDC change stream (graft.operators.Validation.snapshotDiff's
    * I/U/D classification) to the current contents of a keyed sink:
    * deleted keys drop, inserted/updated keys take the new snapshot's
    * rows, untouched keys pass through untouched. The incremental-
    * maintenance shape: only the change stream and its matching
    * new-snapshot rows move, never a full rebuild. Key matching is
    * null-safe (`<=>`), mirroring snapshotDiff's own join, so a
    * null-keyed row diffs and applies as one row.
    *
    * Correctness contract: `changes` must compare EVERY non-key column
    * of the sink (a column outside snapshotDiff's compareCols could
    * change without producing a U, leaving a stale row behind) — then
    * apply(current, diff(old,new)) ≡ new, which is what the spec and
    * the fact_transactions_cdc oracle assert end-to-end.
    */
  def applyChanges(current: DataFrame, changes: DataFrame,
                   newSnap: DataFrame, keys: Seq[String]): DataFrame = {
    def keyed(df: DataFrame) = df.select(keys.map(k => col(k).as(s"__k_$k")): _*)
    val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val kept = current.join(keyed(changes), cond, "left_anti")
    val replacements = newSnap.join(
      keyed(changes.filter(col("change_op") =!= "D")), cond, "left_semi")
    kept.unionByName(replacements)
  }

  /** SCD2 merge: close current versions whose tracked attributes
    * changed and open new ones effective `asOf`. History rows carry
    * (valid_from, valid_to, is_current); updates are a key+attrs
    * snapshot. Both sides shuffle once on the key.
    *
    * Update presence is carried by an explicit join-side flag — NOT by
    * null-sniffing an attribute column, which misreads an update whose
    * first tracked attribute is legitimately null as "no update". Change
    * detection is null-safe (`<=>`): null→value and value→null
    * transitions close/open versions like any other change.
    */
  def scd2Merge(history: DataFrame, updates: DataFrame, key: String,
                attrs: Seq[String], asOf: java.sql.Date): DataFrame = {
    val current = history.filter(col("is_current"))
    val closed = history.filter(!col("is_current"))
    val changeCond = attrs.map(a => !(col(s"cur.$a") <=> col(s"upd.$a")))
      .reduce(_ || _)
    val joined = current.as("cur")
      .join(updates.withColumn("__upd_present", lit(true)).as("upd"),
        Seq(key), "left")
    val present = coalesce(col("upd.__upd_present"), lit(false))
    // unchanged (or no update): keep as-is
    val keep = joined.filter(!present || !changeCond)
      .select(col(s"cur.$key").as(key) +:
        (attrs.map(a => col(s"cur.$a").as(a)) ++
          Seq(col("cur.valid_from").as("valid_from"),
            col("cur.valid_to").as("valid_to"),
            col("cur.is_current").as("is_current"))): _*)
    // changed: close old version at asOf
    val closedNow = joined.filter(present && changeCond)
      .select(col(s"cur.$key").as(key) +:
        (attrs.map(a => col(s"cur.$a").as(a)) ++
          Seq(col("cur.valid_from").as("valid_from"),
            lit(asOf).as("valid_to"), lit(false).as("is_current"))): _*)
    // changed: open new version from asOf
    val opened = joined.filter(present && changeCond)
      .select(col(s"cur.$key").as(key) +:
        (attrs.map(a => col(s"upd.$a").as(a)) ++
          Seq(lit(asOf).as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit(true).as("is_current"))): _*)
    // brand-new keys: open first version
    val fresh = updates.as("upd").join(current.select(col(key)), Seq(key), "left_anti")
      .select(col(key) +:
        (attrs.map(a => col(a)) ++
          Seq(lit(asOf).as("valid_from"),
            lit(null).cast("date").as("valid_to"),
            lit(true).as("is_current"))): _*)
    closed.select(keep.columns.map(col): _*)
      .unionByName(keep).unionByName(closedNow).unionByName(opened).unionByName(fresh)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes/target) files — the maintenance job every incremental
    * sink needs (micro-batch appends accumulate KB-scale files whose
    * open/footer cost dominates scans at 100 TB). Runs against whatever
    * FileSystem the path resolves to (HDFS/S3A/local).
    *
    * Swap ordering: rewrite into a temp dir, rename the original aside,
    * rename the rewrite into place, only then delete the old data — the
    * original bytes survive intact until the new directory is live, and
    * the swap itself is two metadata renames (no recursive delete while
    * the path is the readable location).
    */
  def compact(spark: SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val (fs, dir) = Fs.fileSystem(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".compact.old")
    if (!fs.exists(dir)) {
      // A prior run crashed mid-swap: the renamed-aside original (or the
      // completed rewrite) holds the ONLY copy of the table. Restore it
      // before the leftover cleanup, which must never touch a sole survivor.
      val survivor = if (fs.exists(old)) old else tmp
      if (!fs.exists(survivor) || !fs.rename(survivor, dir))
        throw new java.io.IOException(
          s"compact: $dir missing and no recoverable .compact.old/.compact.tmp copy")
    }
    fs.delete(tmp, true) // leftovers of a crashed prior run (dir verified present)
    fs.delete(old, true)
    val dataBytes = fs.listStatus(dir).iterator
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val n = math.max(1, math.ceil(dataBytes.toDouble / targetBytes).toInt)
    Tables.parquet(spark, path).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!fs.rename(dir, old))
      throw new java.io.IOException(s"compact: rename $dir -> $old failed")
    if (!fs.rename(tmp, dir)) {
      fs.rename(old, dir) // roll back: original data back in place
      throw new java.io.IOException(s"compact: rename $tmp -> $dir failed")
    }
    fs.delete(old, true)
    fs.listStatus(dir).count(s => s.getPath.getName.endsWith(".parquet"))
  }

  /** Incremental (checkpointed) load: process only rows with watermark
    * beyond the last committed high-water mark, then advance it — the
    * Spark shape of core/batch_processor.py's checkpoint/resume. The
    * mark is stored next to the sink as a one-line file.
    *
    * Batch stats (count + new mark) are observed DURING the append
    * ([[org.apache.spark.sql.Observation]] metrics ride the write job),
    * so the delta is scanned exactly once per load. The mark is
    * committed by temp-file + atomic rename strictly AFTER the append:
    * a crash can only leave data ahead of the mark (re-run re-loads,
    * at-least-once), never a mark that claims rows the sink doesn't
    * have.
    */
  def incrementalLoad(spark: SparkSession, source: DataFrame, watermarkCol: String,
                      sinkPath: String): Long = {
    val markPath = sinkPath + ".watermark"
    val last = Fs.readSmallText(spark, markPath)
      .map(_.trim.toLong).getOrElse(Long.MinValue)
    val fresh = source.filter(col(watermarkCol).cast("long") > last)
    val obs = org.apache.spark.sql.Observation()
    fresh.observe(obs, count(lit(1)).as("n"), max(col(watermarkCol).cast("long")).as("mx"))
      .write.mode(SaveMode.Append).parquet(sinkPath)
    val stats = obs.get
    val n = stats("n").asInstanceOf[Long]
    if (n > 0)
      Fs.writeSmallTextAtomic(spark, markPath, stats("mx").asInstanceOf[Long].toString)
    n
  }
}
