package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (RickyXuPengfei/LightLane) has no engine of its own — it
  * delegates planning to MySQL/Hive/Impala (SURVEY.md §4). Here Spark *is*
  * the engine, so the defaults below are the knobs that matter at 100 TB:
  * AQE (runtime re-planning, skew-join splitting, partition coalescing) and
  * a shuffle-partition count sized to the local harness (a real cluster
  * would set this to ~2-3x total cores or rely on AQE coalescing).
  *
  * Generated code stays resident across repeated passes: Spark's codegen
  * cache (`spark.sql.codegen.cache.maxEntries`, Spark default 100) is
  * raised to 1,024 entries, headroom above the largest measured working
  * set. Graft jobs are repeated batch passes in one engine process; one
  * dedup curation pass (`ClusterDedup.components` → keep cluster minima
  * → `JaccardDedup.crossPairs` → parquet sink, plus its output check)
  * needs about 190 distinct generated classes, the paper's dump →
  * Hive-text → load → merge pipeline 78. The setting is static and
  * JVM-wide: `CodeGenerator` sizes its cache once, from the conf of the
  * first session that generates code, so the first session built in a
  * JVM fixes it for every later one.
  */
object GraftSession {

  /** Apply graft defaults to any builder (callers may override after). */
  def tuned(b: SparkSession.Builder, cores: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores)
      // SQL surface for the native sketch expressions (minhash_sig, …)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing sizes partitions by SHUFFLE BYTES, which is the
      // wrong proxy for the CPU-bound stages the dedup/ANN operators run:
      // a few MB of candidate-pair rows fan out into sorted-intersect
      // walks against broadcast arrays, and the default 1 MB floor
      // collapses such stages to 1-2 tasks (measured: ClusterDedup's
      // verify stage at 2/32 cores, 4.7 s of a 12 s query). A 64 KB floor
      // restores parallelism for CPU-dense-tiny-byte stages; at real data
      // volumes totalBytes/parallelism dominates the floor, so this is
      // inert at 100 TB.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Parquet TIMESTAMP(NANOS) columns (e.g. events.ts) are ILLEGAL to
      // Spark 4's reader; surface them as Long nanos instead of crashing.
      // Consumers convert with `timestamp_micros(ts div 1000)`.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // NOTE: the ObjectHashAggregate sort-fallback threshold is NOT
      // raised here. TopKAgg's O(k)-buffer aggregate needs headroom
      // (the default 128 groups/partition abandons hashing immediately
      // on any real corpus), but a session-wide raise would also strip
      // the only memory guard off UNBOUNDED-buffer object aggregates
      // (collect_list, exact percentile) — so the topK operators scope
      // it around their own materialization (TopKAgg.withHashAggHeadroom).
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // A 100-entry LRU cannot hold the ~190-class working set of a dedup
      // curation pass: the classes cycle through it, so every pass
      // recompiled about 140 of them with Janino and its tasks ran code
      // the JIT had not compiled yet. At 1,024 entries a warm pass
      // compiles 0-2 classes, and on a shared 4-core host (local[2]) the
      // fastest pass fell from a median of 4.35 s to 2.76 s over 10
      // seeds. Static and JVM-wide (see above).
      .config("spark.sql.codegen.cache.maxEntries", "1024")

  /** S7 — `hive = true` backs the session catalog with a Hive metastore
    * (derby under the warehouse dir unless configured otherwise),
    * enabling Hive-format tables and `LOAD DATA` (K8). The reference
    * reaches Hive over a thrift connection (`connector/hive_impala.py:
    * 18-22`); Spark-native, the metastore IS the catalog.
    */
  def local(cores: Int = 32, appName: String = "graft", hive: Boolean = false): SparkSession = {
    val b = tuned(SparkSession.builder().master(s"local[$cores]").appName(appName), cores.toString)
      .config("spark.ui.enabled", "false")
    val s = (if (hive) b.enableHiveSupport() else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
