package graft

import graft.operators.{Dedup, Sampling, Similarity}
import graft.plans.Explain
import graft.tools.EngineMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape contracts for the round-6 pipeline operators — the scale
  * claims in COVERAGE.md as executable assertions: shuffle counts, join
  * strategies, and scan-level filters are what survive a 100× scale-up,
  * so they are pinned here rather than prose-only. */
class PipelinePlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.builder(4).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("hash sampling: per-row scan-level filter, zero shuffles") {
    val df = Sampling.sampleByHash(
      Tables.load(spark, sf, "documents").select("doc_id", "lang"),
      "doc_id", 16384)
    val rep = Explain.report(df)
    assert(rep.shuffleExchanges == 0)
    assert(rep.broadcastExchanges == 0)
    assert(rep.wholeStageCodegenSpans >= 1)
  }

  test("shard packing: exactly one exchange (the bucket window)") {
    val df = Sampling.packShards(
      Tables.load(spark, sf, "documents").select("doc_id", "n_chars"),
      "doc_id", ceil(col("n_chars") / 4.0).cast("long"),
      buckets = 4, budget = 1500L)
    val rep = Explain.report(df)
    assert(rep.shuffleExchanges == 1,
      s"packing must shuffle once, got ${rep.shuffleExchanges}")
  }

  test("repeated-ngram profile: single lineage, three bounded shuffles") {
    val df = Dedup.repeatedNgramProfile(
      Tables.load(spark, sf, "documents").select("doc_id", "text"),
      "text", "doc_id", n = 5, minDocs = 2, dfCap = 2)
    val rep = Explain.report(df)
    // (hash, doc) pre-aggregate + hash window + per-doc aggregate — a
    // fourth exchange would mean the expansion is being computed twice
    assert(rep.shuffleExchanges == 3,
      s"expected 3 shuffles, got ${rep.shuffleExchanges}")
  }

  test("decontamination: eval side broadcasts; corpus never pre-shuffles") {
    val d = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val df = Dedup.contaminationCheck(
      d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
      "text", "doc_id", n = 5, minOverlap = 2)
    val rep = Explain.report(df)
    assert(rep.broadcastHashJoins >= 1,
      "the eval n-gram set must broadcast")
    assert(rep.sortMergeJoins == 0 && rep.shuffledHashJoins == 0)
    // exactly: eval-side distinct (small), post-probe distinct, per-doc
    // aggregate — the corpus-sized position stream itself never reaches
    // an exchange (a 4th shuffle would mean it did)
    assert(rep.shuffleExchanges <= 3,
      s"expected <=3 shuffles, got ${rep.shuffleExchanges}")
  }

  test("PQ ADC scan: no joins, one k-by-P-row exchange for the window") {
    val df = Similarity.pqTopK(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dims = 64, m = 8, ksub = 16, k = 5,
      queryFilter = col("vec_id") < 10)
    val rep = Explain.report(df)
    assert(rep.broadcastHashJoins + rep.sortMergeJoins +
      rep.shuffledHashJoins + rep.nestedLoopJoins == 0,
      "ADC must not plan any join")
    assert(rep.shuffleExchanges == 1,
      s"expected only the final top-k exchange, got ${rep.shuffleExchanges}")
  }

  test("semantic dedup: zero-shuffle cell assignment; pair scan confined " +
      "to cells") {
    val df = Dedup.semanticDedup(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      nlist = 8, threshold = 0.3)
    val rep = Explain.report(df)
    // assignment is a per-row codegen'd argmax over the driver-held model
    // (NearestCells) — NO centroid cross join, NO n×nlist expansion, no
    // exchange of any kind between the corpus scan and the cell column
    assert(rep.nestedLoopJoins == 0,
      s"cell assignment must not cross-join: ${rep.nestedLoopJoins}")
    assert(rep.sortMergeJoins + rep.shuffledHashJoins + rep.broadcastHashJoins
      >= 1, "cellmate pairing must be a keyed join on cell")
  }

  test("IVF cell assignment: per-row argmax, no exchange before the cell " +
      "join") {
    val df = Similarity.ivfTopK(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dims = 64, nlist = 8, nprobe = 2, k = 5,
      queryFilter = col("vec_id") < 10)
    val rep = Explain.report(df)
    assert(rep.nestedLoopJoins == 0,
      s"assignment must not cross-join centroids: ${rep.nestedLoopJoins}")
    // plan = 2 scans → per-row NearestCells → cell join (the filtered
    // query side broadcasts: zero corpus shuffle) → final top-k window
    // (1 exchange on query_id). <=3 leaves AQE room to pick SMJ for the
    // cell join at scale — still no n×nlist expansion either way.
    // (WholeStageCodegen spans are invisible pre-execution under AQE;
    // NearestCellsSpec proves the codegen path compiles by running with
    // spark.sql.codegen.fallback=false.)
    assert(rep.shuffleExchanges <= 3,
      s"expected <=3 shuffles (cell join + window), got " +
        s"${rep.shuffleExchanges}")
  }

  test("keyword search: corpus count folded into the plan — construction " +
      "runs no job") {
    val ((df, bm), built) = EngineMetrics.during(spark) {
      (graft.operators.TextAnalysis.keywordSearch(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", terms = Seq("batch", "hash", "dup")),
      graft.operators.TextAnalysis.bm25Search(
        Tables.load(spark, sf, "documents").select("doc_id", "text"),
        "text", "doc_id", terms = Seq("batch", "hash", "dup")))
    }
    // building the DataFrames must not fire an action (the old shape ran
    // docs.count() here — a full extra corpus pass at 100 TB)
    assert(built.jobs == 0,
      s"plan construction fired ${built.jobs} job(s)")
    // ... and N rides a broadcast inside the one plan
    assert(Explain.report(df).broadcastExchanges >= 2,
      "df + corpus-count must both broadcast")
    assert(Explain.report(bm).broadcastExchanges >= 2,
      "df + corpus-stats must both broadcast")
  }

  test("bm25 with precomputed corpusStats: ONE corpus-tokenize subtree " +
      "(single file scan), identical scores to the in-plan fallback") {
    import graft.operators.TextAnalysis
    // sf0.1: big enough that column data dominates parquet footer reads,
    // so the pass count shows cleanly in the byte ratio
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
      .select("doc_id", "text")
    val stats = TextAnalysis.corpusStats(docs, "text").localCheckpoint(true)
    val bm = TextAnalysis.bm25Search(docs, "text", "doc_id",
      terms = Seq("batch", "hash", "dup"), stats = Some(stats))
    // round-8 verdict #3: the in-plan stats subtree re-tokenized the whole
    // corpus, and the twice-consumed tf subtree re-scanned it a third
    // time. Pin the RUNTIME pass count via task input records: each
    // corpus pass reads nDocs rows; the postings cache contributes only
    // the few matched rows, so the totals separate cleanly.
    val nDocs = docs.count()
    def measure(body: => Array[org.apache.spark.sql.Row])
        : (Array[org.apache.spark.sql.Row], Long) = {
      val (out, ran) = EngineMetrics.during(spark)(body)
      (out, ran.inputRecords)
    }
    val (bmRows, bmRead) = measure(bm.collect())
    // one corpus pass: the postings compute; the df branch reads the
    // postings CACHE (few matched rows), the stats ride the checkpoint
    assert(bmRead >= nDocs && bmRead < 1.5 * nDocs,
      s"expected ~one corpus pass (~$nDocs rows), read $bmRead")
    // in-plan fallback (fresh terms so nothing is pre-cached): the stats
    // subtree costs a SECOND full tokenize pass — the round-8 finding,
    // now the documented fallback rather than the only shape
    val fallback = TextAnalysis.bm25Search(docs, "text", "doc_id",
      terms = Seq("data", "model", "train"))
    val (_, fbRead) = measure(fallback.collect())
    assert(fbRead >= 2 * nDocs,
      s"expected the fallback's second corpus pass, read $fbRead")
    // and the amortized path scores identically to the in-plan path
    val sameTerms = TextAnalysis.bm25Search(docs, "text", "doc_id",
      terms = Seq("batch", "hash", "dup"))
    assert(bmRows.toSet == sameTerms.collect().toSet,
      "amortized-stats scores must equal the in-plan-stats scores")
  }

  test("quality-classifier scoring: model broadcasts; corpus aggregates " +
      "once") {
    import graft.operators.QualityModel
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val model = spark.range(0, 16)
      .selectExpr("id AS idx", "id * 10 AS w_micro")
      .unionByName(spark.sql("SELECT -1L AS idx, 5L AS w_micro"))
    val rep = Explain.report(
      QualityModel.score(docs, "text", "doc_id", model, dims = 16))
    assert(rep.broadcastExchanges >= 2,
      "weights and intercept must broadcast, never shuffle the corpus")
    assert(rep.sortMergeJoins == 0,
      "no sort-merge join may appear on the scoring path")
    // (doc, idx) feature aggregate + per-doc margin aggregate — the only
    // exchanges; a third would mean the corpus is crossing the wire again
    assert(rep.shuffleExchanges <= 2,
      s"expected <=2 shuffles, got ${rep.shuffleExchanges}")
  }

  test("SQ8 ADC scan: no joins, one k-by-P-row exchange for the window") {
    val df = Similarity.sqTopK(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dims = 64, k = 5, queryFilter = col("vec_id") < 10)
    val rep = Explain.report(df)
    assert(rep.broadcastHashJoins + rep.sortMergeJoins +
      rep.shuffledHashJoins + rep.nestedLoopJoins == 0,
      "SQ8 ADC must not plan any join")
    assert(rep.shuffleExchanges == 1,
      s"expected only the final top-k exchange, got ${rep.shuffleExchanges}")
  }

  test("IVF-PQ: no joins, no corpus shuffle — probe map is broadcast") {
    val df = Similarity.ivfPqTopK(
      Tables.load(spark, sf, "embeddings"), "vec_id", "embedding",
      dims = 64, nlist = 8, nprobe = 2, m = 8, ksub = 16, k = 5,
      queryFilter = col("vec_id") < 10)
    val rep = Explain.report(df)
    assert(rep.broadcastHashJoins + rep.sortMergeJoins +
      rep.shuffledHashJoins + rep.nestedLoopJoins == 0,
      "IVF-PQ must not plan any join")
    assert(rep.shuffleExchanges == 1,
      s"expected only the final top-k exchange, got ${rep.shuffleExchanges}")
  }
}
