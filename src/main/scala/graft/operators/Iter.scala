package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Shared checkpoint-storage discipline for EVERY per-round iterative
  * loop in the engine — the graph iterators (pagerank, label
  * propagation, hops, k-core), the argmax learners
  * ([[Tokenizer.bpeTrain]], [[Similarity.kCenterCoreset]],
  * [[Similarity.kMeansParOversample]], [[Similarity.kMeansParReduce]])
  * and the MM fitter (`MLEval.btStrength`). Each of these pins one
  * block per round via `localCheckpoint`; on a memory-tight executor
  * those pinned blocks compete with execution memory, and the round-14
  * sf3@8g measurements (SCALE.md) showed routing them to DISK_ONLY
  * returns the whole heap budget to execution (pagerank 95.9 → 54.7 s
  * — faster than a 24 GB default run). The composition lesson from the
  * same round: the knob must govern EVERY block a loop pins, including
  * composer-materialized shared inputs — hence one shared helper, not
  * per-family copies.
  *
  * Knob: `spark.graft.iter.checkpointStorage` —
  *   - `default`: Spark's MEMORY_AND_DISK deserialized rows (measured
  *     fastest while the heap is roomy);
  *   - `ser`: MEMORY_AND_DISK_SER (smaller blocks, still heap-resident);
  *   - `disk`: DISK_ONLY (zero block-manager heap; page cache makes the
  *     "disk" blocks memory-speed on any warm host).
  * Unknown values throw — a typo must not silently lose the memory-tight
  * deployment's intended posture. So does the retired round-14 name
  * `spark.graft.graph.checkpointStorage`, which would otherwise be
  * ignored without a word. */
object Iter {
  /** Runs `body` (the construction+execution of a DIMENSION-sized
    * iterative loop — state O(items)/O(vocab), never O(corpus)) with AQE
    * off and `partitions` shuffle partitions, restoring both confs after.
    * Measured on ml_bt_strength (round 16, JobProbe): AQE re-plans every
    * exchange of every round's tiny checkpoint as its own scheduled job
    * (~5 driver round-trips per round instead of 1-2) and the session's
    * 32 shuffle partitions schedule 32 near-empty reduce tasks per
    * exchange — 6.2 s → 3.5 s from pinning both. Only loops whose state
    * is dimension-sized BY CONTRACT may use this; corpus-sized loops
    * (pagerank, oversample, components) keep the session posture. */
  private[graft] def withTinyLoopConf[T](
      spark: org.apache.spark.sql.SparkSession, partitions: Int = 1)(
      body: => T): T = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  private[graft] def storageConf(df: DataFrame): String = {
    val conf = df.sparkSession.conf
    require(conf.getOption("spark.graft.graph.checkpointStorage").isEmpty,
      "spark.graft.graph.checkpointStorage is retired: set " +
        "spark.graft.iter.checkpointStorage (default|ser|disk) instead")
    conf.get("spark.graft.iter.checkpointStorage", "default")
  }

  def checkpoint(df: DataFrame): DataFrame = storageConf(df) match {
    case "ser"     => df.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    case "disk"    => df.localCheckpoint(true, StorageLevel.DISK_ONLY)
    case "default" => df.localCheckpoint()
    case other => throw new IllegalArgumentException(
      s"spark.graft.iter.checkpointStorage=$other: " +
        "expected one of default|ser|disk")
  }
}
