package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Associations, EditDistanceJoin, TextSearch}

/** Edit-distance join (SymSpell blocking), market-basket co-occurrence,
  * TF-IDF keyword extraction and BM25 scoring semantics.
  */
class MiningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- EditDistanceJoin ----

  test("typoPairs finds every lev<=1 pair class: sub, insert, delete, equal") {
    val df = Seq(
      (1L, "cart"), (2L, "card"), // substitution (last char)
      (3L, "car"),                // deletion of 't' from cart
      (4L, "chart"),              // insertion of 'h' into cart
      (5L, "kart"),               // FIRST-char substitution (prefix blocking would miss it)
      (6L, "cart"),               // exact duplicate -> dist 0
      (7L, "zzz")                 // no neighbor
    ).toDF("id", "s")
    val got = EditDistanceJoin.typoPairs(df, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = Set(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 1), (1L, 5L, 1), (1L, 6L, 0),
      (2L, 3L, 1), // card ~ car: delete 'd'
      (2L, 6L, 1), (3L, 6L, 1), (4L, 6L, 1), (5L, 6L, 1))
    assert(got == expected) // nothing with "zzz", no dist-2 leaks (e.g. chart~card)
  }

  test("typoPairs equals the quadratic ground truth on a random corpus (d=1 and d=2)") {
    val rnd = new scala.util.Random(7)
    val words = (1L to 60L).map(i =>
      (i, (0 until (3 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString))
    val df = words.toDF("id", "s")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (maxDist <- Seq(1, 2)) {
      val truth = (for {
        (ia, sa) <- words; (ib, sb) <- words
        if ia < ib && lev(sa, sb) <= maxDist
      } yield (ia, ib, lev(sa, sb))).toSet
      val got = EditDistanceJoin.typoPairs(df, "id", "s", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == truth, s"maxDist=$maxDist")
    }
  }

  test("typoPairs: empty strings and nulls don't break variant generation") {
    val df = Seq((1L, ""), (2L, "a"), (3L, null), (4L, "")).toDF("id", "s")
    val got = EditDistanceJoin.typoPairs(df, "id", "s", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // "" ~ "" dist 0, "" ~ "a" dist 1; null row dropped
    assert(got == Set((1L, 2L, 1), (1L, 4L, 0), (2L, 4L, 1)))
  }

  // ---- Associations ----

  test("coOccurrence counts pairs once per basket and computes lift") {
    val df = Seq(
      (10L, "a"), (10L, "b"), (10L, "b"), // dup (basket,item) counts once
      (20L, "a"), (20L, "b"),
      (30L, "a"), (30L, "c"),
      (40L, "d")                          // singleton basket -> no pairs
    ).toDF("bk", "it")
    val got = Associations.coOccurrence(df, "bk", "it")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    // n_baskets=4; a:3 b:2 c:1 -> lift(a,b)=2*4/(3*2)=1.333..., lift(a,c)=1*4/(3*1)=1.333...
    assert(got.map(t => (t._1, t._2, t._3)) == Set(("a", "b", 2L), ("a", "c", 1L)))
    got.foreach(t => assert(math.abs(t._4 - 4.0 / 3.0) < 1e-12))
  }

  test("coOccurrence minPairs prunes below-support pairs") {
    val df = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"), (3L, "z"))
      .toDF("bk", "it")
    val got = Associations.coOccurrence(df, "bk", "it", minPairs = 2L)
      .select("item_a", "item_b").as[(String, String)].collect().toSet
    assert(got == Set(("x", "y")))
  }

  // ---- SnmDedup ----

  test("snm finds sort-adjacent near-dups and misses key-distant ones (documented trade)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // shares prefix key -> adjacent -> found
      (3L, "mmm nnn ooo ppp"),
      (4L, "zulu went alpha beta gamma delta epsilon") // near-dup of 1 but sorts far away
    ).toDF("doc_id", "text")
    val got = graft.operators.SnmDedup.pairs(df, "doc_id", "text",
        keyLen = 8, window = 2, nGram = 2, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L)) // blocked out by the sort key
  }

  test("snm window widens candidate reach; jaccard is the exact n-gram value") {
    val df = Seq(
      (1L, "aa x1 y1"), // keys place 1,2,3 adjacent in sort order
      (2L, "ab other words here"),
      (3L, "ac x1 y1")
    ).toDF("doc_id", "text")
    def run(w: Int) = graft.operators.SnmDedup.pairs(df, "doc_id", "text",
        keyLen = 2, window = w, nGram = 2, threshold = 0.1)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(run(2).isEmpty) // 1~3 are 2 apart; w=2 only sees direct neighbors
    val w3 = run(3)
    assert(w3.map(p => (p._1, p._2)) == Set((1L, 3L)))
    // shingles: {aa x1, x1 y1} vs {ac x1, x1 y1} -> 1 shared of 3 distinct
    w3.foreach(p => assert(math.abs(p._3 - 1.0 / 3.0) < 1e-12))
  }

  // ---- TF-IDF ----

  test("tfidfTopKeywords ranks distinctive terms above common ones, ties by term asc") {
    val df = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common"),
      (3L, "cherry common")
    ).toDF("doc_id", "text")
    val got = TextSearch.tfidfTopKeywords(df, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // doc1: apple (tf 2/4, df 1) beats banana (1/4, df 2); common (df 3) scores ln(1)=0
    assert(got == Set(
      (1L, 1, "apple"), (1L, 2, "banana"),
      (2L, 1, "banana"), (2L, 2, "common"),
      (3L, 1, "cherry"), (3L, 2, "common")))
  }

  // ---- BM25 ----

  test("bm25 over an empty corpus returns an empty (id, score) frame") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = TextSearch.bm25(empty, "doc_id", "text", Seq("spark"))
    assert(got.columns.toSeq == Seq("doc_id", "score"))
    assert(got.collect().isEmpty)
  }
}
