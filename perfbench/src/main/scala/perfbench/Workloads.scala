package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ClusterDedup, JaccardDedup, Loader, Transforms}
import graft.operators.Loader.{Append, DedupSpec, LoadConfig, MergeOn, OverwritePartitions}
import graft.sinks.Sink
import graft.sources.Source

/** What one unit of a workload did, for the untimed check. */
final case class Outcome(key: String, hash: String, perturbedHash: String, outBytes: Long)

/** One workload: `prepare` once in set-up, then per unit an untimed
  * `reset`, the timed `unit`, and the untimed `check`. */
trait Workload {
  def prepare(): Unit
  def reset(): Unit
  def unit(): Unit
  /** Read back what the unit published; `selfTest` also hashes a
    * perturbed copy. */
  def check(selfTest: Boolean): Outcome
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, work: String, cores: Int,
      tr: Tracer): Workload = name match {
    case "migrate_merge" => new MigrateMerge(spark, in, work, cores, tr)
    case "curate_dedup" => new CurateDedup(spark, in, work, tr)
    case "ingest_daily" => new IngestDaily(spark, in, work, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def location(spark: SparkSession, table: String): String = {
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $table").collect()
      .find(_.getString(0) == "Location").map(_.getString(1))
      .getOrElse(sys.error(s"no location for $table"))
    new java.net.URI(loc).getPath
  }

  private[perfbench] def hashes(df: DataFrame, selfTest: Boolean): (String, String) =
    (Check.multisetHash(df), if (selfTest) Check.multisetHash(Check.perturbed(df)) else "")

  private[perfbench] def rm(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(go)
      f.delete()
    }
    go(new java.io.File(path))
  }

  /** Drop whatever the previous unit left cached, so units start equal. */
  private[perfbench] def unpersistAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

/** The paper's migration: range-split dump of `events` through the JSON
  * transforms into Hive text, `LOAD DATA` into a Hive-text staging
  * table, then a deduplicating merge into the target with rename-swap
  * publish and statistics refresh. */
final class MigrateMerge(spark: SparkSession, in: String, work: String, cores: Int, tr: Tracer)
    extends Workload {
  import Workload._

  private val dump = s"$work/dump"
  private val keys = Seq("event_id", "tag")
  private val props = new StructType().add("k", IntegerType).add("tags", ArrayType(StringType))

  def prepare(): Unit = ()

  def reset(): Unit = {
    unpersistAll(spark)
    rm(dump)
    spark.sql("DROP TABLE IF EXISTS mm_stage")
    spark.sql("""CREATE TABLE mm_stage (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
      event_type STRING, value DOUBLE, tag STRING, k INT, n_tags INT)
      ROW FORMAT DELIMITED FIELDS TERMINATED BY '\u0001' STORED AS TEXTFILE""")
    Seq("mm_target", "mm_target__graft_reconcile", "mm_target__graft_bak")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(s"CREATE TABLE mm_target USING parquet LOCATION '$in/prior.parquet'")
  }

  def unit(): Unit = {
    val src = tr.build("source.table")(Source.table(spark, in, "events"))
    val ranges = tr.build("source.split")(Source.splitRanges(src, "event_id", cores))
    for ((range, i) <- ranges.zipWithIndex) {
      val staged = tr.build("transforms")(Transforms.pipe(
        Transforms.jsonExtract("props", props),
        Transforms.explodeArray("j.tags", "tag"),
        Transforms.derive("k" -> col("j.k"), "n_tags" -> size(col("j.tags"))),
        _.drop("props", "j"))(range))
      tr.wall("sink.hive_text")(Sink.hiveText(staged, s"$dump/range_$i"))
      if (tr.enabled) outMb("sink.hive_text", s"$dump/range_$i")
    }
    for (i <- ranges.indices)
      tr.wall("loader.load_file")(Loader.loadFile(spark, s"$dump/range_$i", "mm_stage"))
    tr.wall("loader.load")(Loader.load(spark, spark.table("mm_stage"), LoadConfig("mm_target",
      MergeOn(keys), dedup = Some(DedupSpec(keys, Seq(col("ts").desc))))))
    if (tr.enabled) outMb("loader.load", location(spark, "mm_target"))
  }

  private def outMb(span: String, dir: String): Unit = {
    val (bytes, files) = Check.du(dir)
    tr.attr(span, "out_mb", bytes / 1048576.0)
    tr.attr(span, "files", files)
  }

  def check(selfTest: Boolean): Outcome = {
    val loc = location(spark, "mm_target")
    val (h, p) = hashes(spark.read.parquet(loc), selfTest)
    Outcome("", h, p, Check.du(loc)._1)
  }
}

/** LLM-corpus curation: near-duplicate components, keep each cluster's
  * minimum doc, drop docs that overlap the held-out benchmark set, and
  * write the clean corpus as parquet. */
final class CurateDedup(spark: SparkSession, in: String, work: String, tr: Tracer)
    extends Workload {
  import Workload._

  private val out = s"$work/curated"

  def prepare(): Unit = ()

  def reset(): Unit = { unpersistAll(spark); rm(out) }

  def unit(): Unit = {
    val docs = tr.build("source.table")(Source.table(spark, in, "documents"))
    val bench = tr.build("source.table")(Source.table(spark, in, "benchmark"))
    val labels = tr.build("dedup.components")(
      ClusterDedup.components(docs, "doc_id", "text", nGram = 2, threshold = 0.3))
    val kept = tr.build("curate.keep_min")(docs.join(
      labels.where(col("id") === col("component")).select(col("id").as("doc_id")), "doc_id"))
    val pairs = tr.build("dedup.cross_pairs")(
      JaccardDedup.crossPairs(kept, "doc_id", bench, "bench_id", "text", nGram = 2, threshold = 0.5))
    val clean = tr.build("curate.drop_contaminated")(kept
      .join(pairs.select(col("left_id").as("doc_id")), Seq("doc_id"), "left_anti")
      .select("doc_id", "text"))
    tr.wall("sink.format")(Sink.format(clean, out, "parquet"))
    if (tr.enabled) tr.attr("sink.format", "out_mb", Check.du(out)._1 / 1048576.0)
  }

  def check(selfTest: Boolean): Outcome = {
    val (h, p) = hashes(spark.read.parquet(out), selfTest)
    Outcome("", h, p, Check.du(out)._1)
  }
}

/** Daily landing: each unit lands one day of events into a partitioned
  * table and dedups that day's documents incrementally against the
  * labels carried over from the previous day. A run starts from the
  * day-22 state and, after day 30, resets to it. */
final class IngestDaily(spark: SparkSession, in: String, work: String, tr: Tracer)
    extends Workload {
  import Workload._

  private val FirstDay = 23
  private val LastDay = 30
  private val props = new StructType().add("k", IntegerType)
  private var day = LastDay + 1
  private var labelsPath = ""
  private var docsBytes = 0L

  def prepare(): Unit = {
    spark.sql("DROP TABLE IF EXISTS ing_events")
    spark.read.parquet(s"$in/preload.parquet").write.partitionBy("day").saveAsTable("ing_events")
  }

  def reset(): Unit = {
    unpersistAll(spark)
    if (day > LastDay) {
      day = FirstDay
      for (d <- FirstDay to LastDay)
        spark.sql(s"ALTER TABLE ing_events DROP IF EXISTS PARTITION (day=$d)")
      spark.sql("DROP TABLE IF EXISTS ing_docs")
      spark.read.parquet(s"$in/docs_base.parquet").write.saveAsTable("ing_docs")
      rm(s"$work/labels")
      labelsPath = s"$in/labels.parquet"
    }
    docsBytes = Check.du(location(spark, "ing_docs"))._1
  }

  def unit(): Unit = {
    val d = day
    val events = tr.build("source.files")(Source.files(spark, s"$in/batches/events_day=$d"))
    val staged = tr.build("transforms")(Transforms.pipe(
      Transforms.jsonExtract("props", props),
      Transforms.derive("k" -> col("j.k")),
      _.drop("props", "j"))(events))
    tr.wall("loader.load_partition")(Loader.load(spark, staged, LoadConfig("ing_events",
      OverwritePartitions(Seq("day")),
      dedup = Some(DedupSpec(Seq("event_id"), Seq(col("ts").desc))))))

    val docs = tr.build("source.files")(Source.files(spark, s"$in/docs"))
    val prev = tr.build("source.files")(Source.files(spark, labelsPath))
    val delta = docs.where(col("day") === d)
    val labels = tr.build("dedup.incremental")(ClusterDedup.componentsIncremental(
      prev, docs.where(col("day") < d), delta, "doc_id", "text", nGram = 2, threshold = 0.3))
    val fresh = tr.build("ingest.keep_new")(delta.join(
      labels.where(col("id") === col("component")).select(col("id").as("doc_id")), "doc_id")
      .select("doc_id", "text", "day"))
    tr.wall("loader.load_append")(Loader.load(spark, fresh, LoadConfig("ing_docs", Append)))
    val next = s"$work/labels/day=$d"
    tr.wall("sink.format")(Sink.format(labels, next, "parquet"))
    labelsPath = next
    day += 1
  }

  def check(selfTest: Boolean): Outcome = {
    val d = day - 1
    val evLoc = location(spark, "ing_events")
    val docLoc = location(spark, "ing_docs")
    val (he, pe) = hashes(spark.read.parquet(evLoc), selfTest)
    val (hd, _) = hashes(spark.read.parquet(docLoc), selfTest = false)
    val written = Check.du(s"$evLoc/day=$d")._1 + Check.du(docLoc)._1 - docsBytes
    Outcome(d.toString, s"$he/$hd", pe, written)
  }
}
