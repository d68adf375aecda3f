package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-hardening behaviors of the dedup/similarity operators: bucket
  * caps bound degenerate corpora, bucket stats make caps non-silent, and
  * multi-table LSH recovers recall lost to finer bucketing. */
class PipelineHardeningSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  import spark.implicits._

  test("dupClusters: chains, separate components, min-label canonicals") {
    // component A is a 5-node CHAIN 1-2-3-4-5 (needs multiple propagation
    // rounds), component B a triangle {10,11,12}, and one isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L))
      .toDF("id1", "id2")
    val labels = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(labels(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
    assert(labels.size == 10)
    // "keep one per cluster" = the three canonicals
    assert(labels.filter { case (n, l) => n == l }.keySet == Set(1L, 10L, 20L))
  }

  test("semanticDedup: planted duplicates prune to the min-id " +
      "representative; cross-cell near-dups survive") {
    // orthogonal basis directions land in different cells; scaled copies
    // (cosine exactly 1) land in the same cell as their base and must
    // prune to it. 64-dim float vectors like the embeddings table.
    def unit(axis: Int, scale: Float): Seq[Float] =
      (0 until 64).map(d => if (d == axis) scale else 0.0f)
    val rows = Seq(
      (0L, unit(0, 1.0f)), (1L, unit(1, 1.0f)),
      (2L, unit(2, 1.0f)), (3L, unit(3, 1.0f)),
      (10L, unit(0, 2.0f)), // dup of 0 (same direction, scaled)
      (11L, unit(0, 0.5f)), // dup of 0
      (12L, unit(1, 3.0f)), // dup of 1
      // near-orthogonal to everything: kept
      (20L, (0 until 64).map(d => if (d == 60) 1.0f else 0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 4, threshold = 0.9)
      .select("vec_id", "kept", "dup_of")
      .as[(Long, Boolean, Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(10L) == (false, Some(0L)), s"got ${out(10L)}")
    assert(out(11L) == (false, Some(0L)))
    assert(out(12L) == (false, Some(1L)))
    assert(out(0L)._1 && out(1L)._1 && out(20L)._1,
      "representatives and non-dups must be kept")
    assert(out.size == rows.size, "one row per input vector")
  }

  test("mapPartitions text operators propagate null text as null rows") {
    import graft.operators.{Bpe, TextAnalysis}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val docs = spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "alpha beta alpha"), Row(2L, null)),
      schema)
    val tok = Bpe.tokenize(docs, "text", "doc_id", Seq("a" -> "l"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(!tok(1L) && tok(2L), "null text must yield a null-measure row")
    val rep = TextAnalysis.repetitionProfile(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!rep(1L) && rep(2L))
    val nfc = TextAnalysis.nfcNormalize(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.isNullAt(3)).toMap
    assert(!nfc(1L) && nfc(2L))
  }

  test("broadcast-LM bigram surprisal equals the join formulation when " +
      "top-K covers the corpus") {
    import graft.operators.TextAnalysis
    // include a null-text doc: the join path must emit the same
    // null-measure row the broadcast path does, not silently drop it
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
      .unionByName(Seq((999999L, Option.empty[String]))
        .toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val joined = TextAnalysis.bigramSurprisalBits(docs, "text", "doc_id")
    val bcast = TextAnalysis.bigramSurprisalBits(docs, "text", "doc_id",
      broadcastTopK = 1 << 20)
    assert(rows(joined).exists(r => r.head == 999999L && r(1) == null),
      "null-text doc must surface as a null-measure row")
    assert(rows(bcast) == rows(joined),
      "broadcast path diverged from the join path at full coverage")
    // truncation is deterministic (rerun-stable)
    val t1 = TextAnalysis.bigramSurprisalBits(docs, "text", "doc_id",
      broadcastTopK = 50)
    val t2 = TextAnalysis.bigramSurprisalBits(docs, "text", "doc_id",
      broadcastTopK = 50)
    assert(rows(t1) == rows(t2))
  }

  test("bucket cap drops the boilerplate mega-bucket; stats report it") {
    val boiler = "one two three four five six seven"
    val docs = ((1 to 200).map(i => (i.toLong, boiler)) ++
      Seq((900L, "alpha beta gamma delta epsilon zeta"),
        (901L, "alpha beta gamma delta epsilon zeta")))
      .toDF("doc_id", "text")
    val bands = Dedup.lshBands(
      Dedup.minHashSignatures(docs, "text", "doc_id", 8), "doc_id", 2, 4)

    val uncapped = Dedup.lshCandidatePairs(bands, "doc_id")
    assert(uncapped.count() == 200L * 199 / 2 + 1)

    val capped = Dedup.lshCandidatePairs(bands, "doc_id", maxBucketSize = 50)
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((900L, 901L)))

    val stats = Dedup.lshBucketStats(bands, 50)
      .select("band", "dropped_buckets", "dropped_members")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(stats.values.forall { case (db, dm) => db == 1L && dm == 200L })
  }

  test("16-hash minhash signatures: windows 9-16 come from the salted digest") {
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val sig = Dedup.minHashSignatures(docs, "text", "doc_id", 16).collect().head
    assert(sig.length == 17)
    // h1..h8 from md5(s), h9..h16 from md5(s || '#2') — saltings differ
    val h = (1 to 16).map(i => sig.getString(i))
    assert(h.forall(_.length == 4) && h.take(8) != h.drop(8))
  }

  test("ngram df-cap removes stop-shingle posting lists") {
    val boiler = "x y z w v u t"
    val docs = ((1 to 100).map(i => (i.toLong, boiler)) ++
      Seq((900L, "p q r s t u p q"), (901L, "p q r s t u p z")))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccard(docs, "text", "doc_id", 3, dfCap = 50)
      .filter(col("jaccard") > 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.toSet == Set((900L, 901L)))
  }

  test("multi-table LSH recall dominates single-table at equal planes") {
    val rnd = new scala.util.Random(42)
    // 30 clusters of 3 near-identical vectors
    val vecs = (0 until 30).flatMap { c =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (0 until 3).map { j =>
        (c * 10L + j,
          base.map(x => x + 0.01f * rnd.nextGaussian().toFloat).toSeq)
      }
    }.toDF("vec_id", "embedding")
    def recall(tables: Int): Double = {
      val got = Similarity.lshTopK(vecs, "vec_id", "embedding",
          dims = 16, planes = 8, k = 2, tables = tables)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = for (c <- 0 until 30; j <- 0 until 3; o <- 0 until 3
        if o != j) yield (c * 10L + j, c * 10L + o)
      want.count(got.contains).toDouble / want.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1)
    assert(r4 > 0.9) // 4 tables x 8 planes finds nearly all cluster pairs
  }

  test("VecDot: native expression matches the HOF formulation bit-exactly") {
    import org.apache.spark.sql.functions._
    val vecs = (1 to 50).map { i =>
      (i.toLong, (1 to 64).map(d => math.sin(i * 64 + d)).toArray)
    }.toDF("id", "v")
    val pairs = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.id") < col("b.id"))
    val hof = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x)
    val diff = pairs
      .select((graft.functions.VecDot(col("a.v"), col("b.v")) - hof).as("d"))
      .agg(max(abs(col("d")))).head.getDouble(0)
    assert(diff == 0.0d) // same fold order → bit-identical, not just close

    // stays inside whole-stage codegen (the HOF form does not) — run the
    // query first so AQE finalizes the physical plan
    val planDf = pairs
      .select(graft.functions.VecDot(col("a.v"), col("b.v")).as("s"))
    planDf.collect()
    // AQE's final-plan string renders WholeStageCodegen spans as a `*(n)`
    // prefix; the vecdot projection must carry one
    val planStr = planDf.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[vecdot""".r.findFirstIn(planStr).isDefined,
      planStr)

    // interpreted path (eval) agrees with codegen
    val row = vecs.limit(1)
      .select(graft.functions.VecDot(col("v"), col("v")).as("s"),
        aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x).as("h"))
      .head
    assert(row.getDouble(0) == row.getDouble(1))

    // SQL surface (GraftExtensions catalog)
    vecs.createOrReplaceTempView("__vd")
    val sqlv = spark.sql(
      "SELECT vec_dot(v, v) AS s FROM __vd WHERE id = 1").head.getDouble(0)
    assert(sqlv == row.getDouble(0))
  }
}
