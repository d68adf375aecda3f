package graft

import graft.operators.Bpe
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** BPE trainer/tokenizer contract: deterministic training, the argmax
  * merge property, per-merge token-count monotonicity, and that the fixed
  * merge list hard-coded in q155 IS what train() learns on the sf0.01
  * corpus (so the oracle-checked application query can never drift from
  * the trainer). */
class BpeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  test("encode/apply: sep-wrapped replacement merges within words only") {
    assert(Bpe.encode("ab c") == "/a//b// //c/")
    // left-to-right greedy on a run: pairs (0,1) and (2,3)
    assert(Bpe.applyMerges(Bpe.encode("aaaa"), Seq("a" -> "a")) ==
      "/aa//aa/")
    assert(Bpe.applyMerges(Bpe.encode("aaa"), Seq("a" -> "a")) == "/aa//a/")
    // back-to-back occurrences BOTH merge (the shared-separator encoding
    // this replaced dropped the second one — the review repro)
    assert(Bpe.applyMerges(Bpe.encode("training"), Seq("i" -> "n")) ==
      "/t//r//a//in//in//g/")
    // a merged symbol participates in later merges
    assert(Bpe.applyMerges(Bpe.encode("mer"),
      Seq("e" -> "r", "m" -> "er")) == "/mer/")
    // boundary safety: 'b' at word end never merges with next word's 'c'
    assert(Bpe.applyMerges(Bpe.encode("ab ca"), Seq("b" -> "c")) ==
      "/a//b// //c//a/")
    // separator in the text fails loudly instead of corrupting counts
    intercept[IllegalArgumentException](Bpe.encode("a/b"))
  }

  test("training picks the frequency argmax with lexicographic ties") {
    import spark.implicits._
    val docs = Seq("aab aab ba", "aab zz").toDF("text")
    val merges = Bpe.train(docs, "text", 2)
    // (a,a) occurs 3x (aab weighted by freq 3... aab:3? vocab: aab->3? aab
    // appears 3 times across docs, ba->1, zz->1): pairs (a,a)=3, (a,b)=3,
    // (b,a)=1, (z,z)=1 — tie (a,a) vs (a,b) → lexicographic picks (a,a)
    assert(merges.head == ("a", "a"))
  }

  test("train is deterministic and q155's fixed list is the trained list") {
    val d = Tables.load(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text")
    val m1 = Bpe.train(d, "text", 6)
    assert(m1 == Bpe.train(d, "text", 6))
    assert(m1 == Seq("e" -> "r", "i" -> "n", "o" -> "w", "o" -> "r",
      "s" -> "t", "m" -> "er"),
      s"q155's hard-coded merges drifted from the trainer: $m1")
  }

  test("maxVocab truncation: equals the full trainer when K covers the " +
      "vocabulary, and bounds the driver set when it doesn't") {
    import spark.implicits._
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val nDistinct = d.select(org.apache.spark.sql.functions
      .explode(org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " ")))
      .distinct().count().toInt
    val full = Bpe.train(d, "text", 8, maxVocab = 0)
    // K ≥ |vocab| → identical merges (also covers the default bound)
    assert(Bpe.train(d, "text", 8, maxVocab = nDistinct) == full)
    assert(Bpe.train(d, "text", 8) == full)
    // K < |vocab| still trains (on the top-K words) and is deterministic
    val truncated = Bpe.train(d, "text", 8, maxVocab = nDistinct / 4)
    assert(truncated.length == 8)
    assert(truncated == Bpe.train(d, "text", 8, maxVocab = nDistinct / 4))
  }

  test("incremental pair counts equal a naive full-recount trainer") {
    import spark.implicits._
    // deterministic pseudo-random corpus with heavy pair structure
    // (repeats, runs, shared prefixes) to stress retract/re-add paths
    // includes a supplementary (non-BMP) character so the reference and
    // the trainer must both walk CODE POINTS, not UTF-16 units
    val words = Seq("aaa", "aab", "abab", "banana", "bandana", "naan",
      "ana", "aa", "ab", "ba", "na\uD83D\uDE00na", "\uD83D\uDE00a")
    val rnd = new scala.util.Random(42)
    val docs = (1 to 40)
      .map(_ => (1 to 8).map(_ => words(rnd.nextInt(words.length)))
        .mkString(" "))
      .toDF("text")
    val got = Bpe.train(docs, "text", 12)
    // naive reference: recount every pair from scratch each round
    val vocab = docs.as[String].collect()
      .flatMap(_.split(" ")).groupBy(identity)
      .map { case (w, xs) => w -> xs.length.toLong }
    val forms = scala.collection.mutable.Map.empty[String, Array[String]]
    vocab.keys.foreach(w => forms(w) = w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))))
    val expect = scala.collection.mutable.Buffer.empty[(String, String)]
    (1 to 12).foreach { _ =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, f) =>
        val t = forms(w)
        (0 until t.length - 1).foreach { i =>
          val p = (t(i), t(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.nonEmpty) {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        expect += best
        forms.mapValuesInPlace { (_, t) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < t.length) {
            if (i + 1 < t.length && t(i) == best._1 && t(i + 1) == best._2) {
              out += best._1 + best._2; i += 2
            } else { out += t(i); i += 1 }
          }
          out.toArray
        }
      }
    }
    assert(got == expect.toSeq,
      s"incremental trainer diverged:\n got=$got\n exp=$expect")
  }

  test("each merge never increases the corpus token count") {
    import spark.implicits._
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    val merges = Bpe.train(d, "text", 8)
    val totals = (0 to merges.length).map { k =>
      Bpe.tokenize(d, "text", "doc_id", merges.take(k))
        .agg(org.apache.spark.sql.functions.sum("bpe_tokens"))
        .as[Long].head()
    }
    totals.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a, s"token count increased: $totals")
    }
    assert(totals.last < totals.head, "merges should compress this corpus")
  }

  test("tokenize equals a naive per-doc reimplementation") {
    import spark.implicits._
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").limit(50)
    val merges = Seq("e" -> "r", "i" -> "n")
    val got = Bpe.tokenize(d, "text", "doc_id", merges)
      .select("doc_id", "bpe_tokens").as[(Long, Long)].collect().toMap
    d.as[(Long, String)].collect().foreach { case (id, text) =>
      val naive = text.split(" ", -1).map { w =>
        var toks = w.map(_.toString).toList
        merges.foreach { case (a, b) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var rest = toks
          while (rest.nonEmpty) rest match {
            case x :: y :: tail if x == a && y == b =>
              out += (a + b); rest = tail
            case x :: tail => out += x; rest = tail
            case Nil =>
          }
          toks = out.toList
        }
        toks.length.toLong
      }.sum
      assert(got(id) == naive, s"doc $id: ${got(id)} vs $naive")
    }
  }
}
