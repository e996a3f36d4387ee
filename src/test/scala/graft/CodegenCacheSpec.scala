package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{ClusterDedup, JaccardDedup}

/** Repeated passes of one pipeline in one engine process reuse their
  * generated code. One dedup curation pass needs more distinct generated
  * classes than Spark's default 100-entry codegen cache holds, so with
  * that default the classes cycle through the cache and every pass
  * recompiles them; GraftSession sizes the cache above that working set.
  */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated dedup curation pass compiles no generated classes") {
    val rnd = new scala.util.Random(7)
    val vocab = ("a the data spark line column order small sort fast value scan hash " +
      "slow group agg filter query big key window row part table stream merge batch " +
      "join vector customer load dump hive text file stage plan task shuffle cache " +
      "index node page range split write read count").split(" ")
    // skewed draw: low indices are common words, like a real vocabulary
    def word(): String = vocab((vocab.length * math.pow(rnd.nextDouble(), 2)).toInt)
    def text(n: Int): String = Seq.fill(n)(word()).mkString(" ")
    val base = (0 until 400).map(i => i.toLong -> text(10 + rnd.nextInt(20)))
    // near-duplicates: a planted copy of a base doc with one word swapped
    val near = base.take(100).map { case (i, t) =>
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = word()
      (10000L + i) -> w.mkString(" ")
    }
    val docs = (base ++ near).toDF("doc_id", "text")
    val bench = (base.slice(100, 130).map(_._2) ++ Seq.fill(70)(text(20)))
      .zipWithIndex.map { case (t, i) => i.toLong -> t }.toDF("bench_id", "text")

    def pass(): (Long, Long) = {
      val before = compiles()
      val labels = ClusterDedup.components(docs, "doc_id", "text", nGram = 2, threshold = 0.3)
      val kept = docs.join(
        labels.where(col("id") === col("component")).select(col("id").as("doc_id")), "doc_id")
      val n = JaccardDedup.crossPairs(kept, "doc_id", bench, "bench_id", "text",
        nGram = 2, threshold = 0.5).collect().length.toLong
      spark.catalog.clearCache()
      (compiles() - before, n)
    }
    val (first, pairs1) = pass()
    val (second, pairs2) = pass()
    println(s"[codegen] first pass compiled $first classes, second pass $second")
    assert(pairs1 == pairs2 && pairs1 > 0)
    assert(second == 0, s"second pass recompiled $second classes (first pass: $first)")
  }
}
