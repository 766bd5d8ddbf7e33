package graft.operators

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants for the incremental BPE trainer and its
  * BpeOps primitives — randomized breadth behind QueryInvariantSpec's
  * one adversarial corpus. Deterministic seeds, raw scalacheck Gen
  * (the scalatest bridge isn't in the offline cache).
  */
class BpePropertySpec extends SparkSpec {
  import spark.implicits._

  private def forAll[A](ga: Gen[A], n: Int)(f: A => Unit): Unit =
    (1 to n).foreach { i =>
      f(ga(Gen.Parameters.default, Seed(i * 2654435761L)).get)
    }

  // tokens drawn from a tiny vocabulary so pair collisions (the
  // interesting dynamics: ties, chains, second-order merges) are dense
  private val tokenGen = Gen.oneOf("a", "b", "c", "ab", "zz", "é")
  private val docGen: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, tokenGen)).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] =
    Gen.choose(1, 7).flatMap(n => Gen.listOfN(n, docGen))

  // ---- BpeOps algebra ----------------------------------------------------

  test("TextQueries.BpeOps.pairs ≡ sliding(2) over the double-spaced encoding (random token lists)") {
    forAll(Gen.choose(0, 9).flatMap(n => Gen.listOfN(n, tokenGen)), 60) { ts =>
      val st = " " + ts.mkString("  ") + " "
      val want =
        if (ts.length < 2) Seq.empty
        else ts.sliding(2).map(p => p.head + " " + p(1)).toSeq
      assert(TextQueries.BpeOps.pairs(st).toSeq == want, st)
    }
  }

  test("TextQueries.BpeOps.better is an associative, commutative total max (fold-safety laws)") {
    val entry = for {
      p <- Gen.oneOf("a a", "a b", "zz b", "é a", "", "ab c")
      c <- Gen.choose(1L, 4L)
    } yield (p, c)
    forAll(Gen.listOfN(3, entry), 80) { case List(x, y, z) =>
      assert(TextQueries.BpeOps.better(x, y) == TextQueries.BpeOps.better(y, x))
      assert(TextQueries.BpeOps.better(TextQueries.BpeOps.better(x, y), z) == TextQueries.BpeOps.better(x, TextQueries.BpeOps.better(y, z)))
      // the result is one of the inputs and dominates both
      val m = TextQueries.BpeOps.better(x, y)
      assert(m == x || m == y)
      // sentinel is an identity (fold zero per partition)
      val s = ("", Long.MinValue)
      assert(TextQueries.BpeOps.better(x, s) == x && TextQueries.BpeOps.better(s, x) == x)
    }
  }

  // ---- trainer vs from-scratch recount on random corpora ------------------

  test("incremental trainer ≡ full recount on random corpora (merges AND final state)") {
    def toks(st: String): Array[String] = {
      var t = st
      while (t.startsWith(" ")) t = t.substring(1)
      while (t.endsWith(" ")) t = t.substring(0, t.length - 1)
      t.split("  ", -1)
    }
    def naive(corpus: List[String], nMerges: Int): (Seq[(Int, String, Long)], Map[Long, String]) = {
      var st = corpus.zipWithIndex
        .map { case (t, i) => i.toLong -> (" " + t.replace(" ", "  ") + " ") }.toMap
      val ms = Seq.newBuilder[(Int, String, Long)]
      var r = 0
      var done = false
      while (r < nMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[String, Long]
        st.values.foreach { s =>
          val ts = toks(s)
          (1 until ts.length).foreach { i =>
            val p = ts(i - 1) + " " + ts(i)
            counts(p) = counts.getOrElse(p, 0L) + 1L
          }
        }
        if (counts.isEmpty) done = true
        else {
          val (pair, c) = counts.toSeq.reduce { (x, y) =>
            if (x._2 != y._2) { if (x._2 > y._2) x else y }
            else {
              val (bx, by) = (x._1.getBytes("UTF-8"), y._1.getBytes("UTF-8"))
              if (java.util.Arrays.compareUnsigned(bx, by) <= 0) x else y
            }
          }
          r += 1
          ms += ((r, pair, c))
          val Array(a, b) = pair.split(" ", 2)
          val (needle, repl) = (s" $a  $b ", " " + a + "" + b + " ")
          st = st.view.mapValues(_.replace(needle, repl)).toMap
        }
      }
      (ms.result(), st)
    }
    forAll(corpusGen, 6) { corpus =>
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val nMerges = 4
      val (wantMerges, wantState) = naive(corpus, nMerges)
      val gotMerges = TextQueries
        .bpeMergeTableMerges(docs, "text", "doc_id", nMerges)
        .orderBy($"rank").as[(Int, String, Long)].collect().toSeq
      assert(gotMerges == wantMerges, s"corpus=$corpus")
      // bpeTrain's state: empty on early exhaustion (the oracle's
      // cross-join contract), the reference rewrite otherwise
      val gotState = TextQueries.bpeTrain(docs, "text", "doc_id", nMerges)
        .as[(Long, String)].collect().toMap
      if (wantMerges.length < nMerges) assert(gotState.isEmpty, s"corpus=$corpus")
      else assert(gotState == wantState, s"corpus=$corpus")
    }
  }

  // ---- driver fast path ≡ distributed RDD loop ----------------------------

  test("size-gated driver path ≡ distributed RDD loop (merges AND final state)") {
    // the gate fires by default on these KB corpora; conf=0 forces the
    // distributed delta loop — the two must be bit-equal on merges,
    // counts, AND the needState final state (the same both-paths pin
    // as connectedComponents' driverUnionFind vs fixpoint)
    forAll(corpusGen, 5) { corpus =>
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val nMerges = 4
      val driverMerges = TextQueries
        .bpeMergeTableMerges(docs, "text", "doc_id", nMerges)
        .orderBy($"rank").as[(Int, String, Long)].collect().toSeq
      val driverState = TextQueries.bpeTrain(docs, "text", "doc_id", nMerges)
        .as[(Long, String)].collect().toMap
      spark.conf.set("graft.bpe.driverCorpusLimit", "0")
      try {
        val rddMerges = TextQueries
          .bpeMergeTableMerges(docs, "text", "doc_id", nMerges)
          .orderBy($"rank").as[(Int, String, Long)].collect().toSeq
        val rddState = TextQueries.bpeTrain(docs, "text", "doc_id", nMerges)
          .as[(Long, String)].collect().toMap
        assert(driverMerges == rddMerges, s"corpus=$corpus")
        assert(driverState == rddState, s"corpus=$corpus")
      } finally spark.conf.unset("graft.bpe.driverCorpusLimit")
    }
  }

  test("a driver-path needState training retires the state a distributed one kept") {
    val docs = Seq("a b a b c", "b c a b c", "a b c a b", "c a c a b b", "b b c a")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    spark.conf.set("graft.bpe.driverCorpusLimit", "0")
    val kept =
      try {
        TextQueries.bpeTrain(docs, "text", "doc_id", 4).count()
        persisted -- before
      } finally spark.conf.unset("graft.bpe.driverCorpusLimit")
    assert(kept.nonEmpty, "the distributed needState training keeps its final state")
    TextQueries.bpeTrain(docs, "text", "doc_id", 4).count()
    assert((kept & persisted).isEmpty)
  }
}
