package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID (stopword
  * heuristic), quality scoring, token counting, document fingerprinting.
  * All per-row projections — no shuffle, codegen'd, linear scans at any
  * scale; every formula is plain arithmetic so a SQL oracle can replay it.
  */
object TextAnalysis {

  /** Stopword lists per language for the n-gram/stopword language-ID
    * heuristic. Deterministic tie-break: priority order en,de,fr,es,zh. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "it", "that", "a"),
    "de" -> Seq("der", "die", "und", "nicht", "das", "ist", "ein", "zu"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une"),
    "es" -> Seq("el", "los", "que", "una", "es", "las", "por", "con"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  private def words(text: Column): Column = split(text, " ")

  private def countIn(text: Column, list: Seq[String]): Column =
    size(filter(words(text), w => w.isInCollection(list))).cast("long")

  /** Predicted language: argmax of per-language stopword hit counts,
    * ties resolved by list priority order. */
  def langId(text: Column): Column = {
    val counts = stopwords.map { case (lang, list) => lang -> countIn(text, list) }
    counts.foldRight(lit(stopwords.head._1)) { case ((lang, cnt), alt) =>
      val isMax = counts.map(_._2).map(other => cnt >= other).reduce(_ && _)
      when(isMax, lit(lang)).otherwise(alt)
    }
  }

  /** Heuristic quality score scaled to an integer in [0, 10000]: blends word
    * count, mean word length, lexical diversity, and stopword rate. Emitted
    * as `floor(score * 10000 + 0.5)` rather than `round(score, 4)` — cross-
    * engine double rounding is representation-dependent at .xxxx5
    * boundaries, whereas this scaled-floor is pure IEEE arithmetic that any
    * engine reproduces bit-identically. */
  def qualityScore4(text: Column): Column = {
    val w = words(text)
    val nWords = size(w).cast("double")
    val nChars = length(text).cast("double")
    val meanLen = (nChars - nWords + 1) / nWords // chars minus separators
    val uniqRatio = size(array_distinct(w)).cast("double") / nWords
    val stopRatio = countIn(text, stopwords.head._2).cast("double") / nWords
    val score = least(lit(1.0),
      (least(nWords / 100.0, lit(1.0)) * 0.3) +
        (least(meanLen / 8.0, lit(1.0)) * 0.2) +
        (uniqRatio * 0.3) +
        (least(stopRatio * 5.0, lit(1.0)) * 0.2))
    floor(score * 10000.0 + 0.5).cast("long")
  }

  /** Stop words for the Gopher "contains ≥2 distinct stop words" rule
    * (Rae et al. 2021, Scaling Language Models — the published quality
    * heuristics, appendix A1.1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-rule document quality flags (Rae et al. 2021 A1.1) — the
    * standard pre-training quality gate, emitted as named measurements plus
    * the combined pass verdict so a pipeline can both filter and audit
    * WHICH rule failed. All ratios are scaled-floor basis points (pure IEEE
    * double arithmetic — engine-portable, no float hashing):
    *
    *  - `n_words` in [minWords, maxWords] (paper: 50..100,000)
    *  - mean word length in [3, 10] characters
    *  - symbol-to-word ratio (`#` chars + `...` runs) < 0.1
    *  - < 90% of lines start with a bullet ("- " / "* " / "• ")
    *  - < 30% of lines end with an ellipsis
    *  - ≥ 80% of words contain at least one alphabetic character
    *  - ≥ 2 distinct stop words present
    *
    * Per-row projection — no shuffle, linear at any corpus scale.
    * Cost note: this Column tree keeps a few interpreted list HOFs —
    * measured 0.94 s at the 25× corpus (≈4× DuckDB), acceptable for a
    * quality gate; if the rule set grows, move to a fused mapPartitions
    * pass like [[repetitionProfile]] (whose stacked-HOF predecessor
    * measured 1000× worse). */
  def gopherQuality(text: Column, minWords: Int = 50,
      maxWords: Int = 100000): Seq[(String, Column)] = {
    val w = words(text)
    val nWords = size(w).cast("long")
    val sumLen = aggregate(w, lit(0L), (acc, x) => acc + length(x))
    val meanLenBp = floor(sumLen * 10000.0 / nWords).cast("long")
    val nHash = length(text) - length(replace(text, lit("#"), lit("")))
    val nEllipsis =
      floor((length(text) - length(replace(text, lit("..."), lit("")))) / 3.0)
    val symBp = floor((nHash + nEllipsis) * 10000.0 / nWords).cast("long")
    val alphaWords =
      size(filter(w, x => x.rlike("[a-zA-Z]"))).cast("long")
    val alphaBp = floor(alphaWords * 10000.0 / nWords).cast("long")
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val bulletBp = floor(size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("• ")))
      .cast("long") * 10000.0 / nLines).cast("long")
    val ellipsisLineBp = floor(size(filter(lines, l => l.endsWith("...")))
      .cast("long") * 10000.0 / nLines).cast("long")
    val stopHits = gopherStopwords
      .map(sw => when(array_contains(w, sw), 1L).otherwise(0L))
      .reduce(_ + _)
    val pass = nWords >= minWords && nWords <= maxWords &&
      meanLenBp >= 30000L && meanLenBp <= 100000L &&
      symBp < 1000L && bulletBp < 9000L && ellipsisLineBp < 3000L &&
      alphaBp >= 8000L && stopHits >= 2L
    Seq(
      "n_words" -> nWords,
      "mean_word_len_bp" -> meanLenBp,
      "symbol_ratio_bp" -> symBp,
      "alpha_word_bp" -> alphaBp,
      "bullet_line_bp" -> bulletBp,
      "ellipsis_line_bp" -> ellipsisLineBp,
      "stop_hits" -> stopHits,
      "gopher_pass" -> pass)
  }

  /** PII patterns (RE2-safe subset — identical semantics under Java regex
    * and DuckDB/RE2, so redaction is oracle-replayable). Emails are
    * matched before IPs; note the email pattern requires an alphabetic
    * TLD, so `bob@10.1.2.3` is NOT an email — it redacts as `bob@<IP>`
    * (n_emails 0, n_ips 1). Counts are taken on the RAW text, so an IP
    * inside a matched email's domain counts under both patterns even
    * though the email replacement consumes it. */
  val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII scrub for training corpora: (redacted text, email count, IP
    * count). Per-row regex projection — no shuffle, linear at any scale;
    * extend the pattern list per deployment (phones, SSNs, keys…). */
  def redactPii(text: Column): (Column, Column, Column) = (
    regexp_replace(regexp_replace(text, emailRe, "<EMAIL>"),
      ipv4Re, "<IP>"),
    size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long"),
    size(regexp_extract_all(text, lit(ipv4Re), lit(0))).cast("long"))

  /** Within-document repetition measurements (the other half of the Gopher
    * rules, Rae et al. 2021 A1.1): most-common-word mass, duplicate-word
    * and duplicate-bigram fractions — scaled-floor basis points, plus the
    * combined pass verdict.
    *
    * Runs as one fused primitive pass per document (`mapPartitions`), not
    * a Column expression tree: list higher-order functions are
    * CodegenFallback — interpreted per element, and the tree re-evaluates
    * the `split` per reference (no CSE) — measured 736 s of task CPU over
    * 125k docs vs 0.7 s for DuckDB's vectorized list ops. Same reasoning
    * as the [[Similarity.lshTopK]] run-scan; all arithmetic is the exact
    * scaled-floor IEEE the SQL oracle replays. No shuffle. */
  def repetitionProfile(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("top_word_bp", LongType),
      StructField("dup_word_bp", LongType),
      StructField("dup_bigram_bp", LongType),
      StructField("repetition_pass", BooleanType)))
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.isNullAt(1)) {
            // null text → null measurements (Column-operator null
            // propagation semantics)
            Row(if (r.isNullAt(0)) null else r.getLong(0),
              null, null, null, null)
          } else {
          val w = r.getString(1).split(" ", -1)
          val n = w.length
          val counts = new java.util.HashMap[String, Int](n * 2)
          var i = 0
          var top = 0
          while (i < n) {
            val c = counts.merge(w(i), 1, (a, b) => a + b)
            if (c > top) top = c
            i += 1
          }
          val topBp = math.floor(top * 10000.0 / n).toLong
          val dupBp = math.floor((n - counts.size) * 10000.0 / n).toLong
          val n2 = n - 1
          val biBp =
            if (n2 <= 0) 0L
            else {
              val bis = new java.util.HashSet[String](n2 * 2)
              var j = 0
              while (j < n2) { bis.add(w(j) + " " + w(j + 1)); j += 1 }
              math.floor((n2 - bis.size) * 10000.0 / n2).toLong
            }
          Row(r.getLong(0), topBp, dupBp, biBp, topBp < 2000L && biBp < 2000L)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Corpus-relative unigram surprisal in whole bits — the shape of
    * CCNet-style perplexity filtering (Wenzek et al. 2019) with an
    * oracle-safe twist: token information content is `bitlen(N) −
    * bitlen(freq)` via binary-string length, EXACT integer arithmetic,
    * because libm `ln` differs by 1 ulp across engines (measured: 4
    * mismatches per 200k inputs between JVM and DuckDB) and a hash gate
    * cannot tolerate that. A production deployment scoring against a real
    * LM swaps the scorer; the pipeline shape (one token shuffle to build
    * the frequency table, one join back, one per-doc aggregate — at
    * 100 TB, broadcast the Zipf-truncated top-K table instead) stays.
    * Output: (doc_id, n_tokens, sum_bits, surprisal_c = floor(100 ×
    * mean bits)). */
  def surprisalBits(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(words(col(textCol))).as("w"))
    val freq = tok.groupBy("w").agg(count(lit(1)).as("f"))
    val total = freq.agg(sum("f").as("n_total"))
    tok.join(freq, Seq("w"))
      .crossJoin(broadcast(total))
      .withColumn("bits",
        (length(bin(col("n_total"))) - length(bin(col("f")))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"))
      .withColumn("surprisal_c",
        floor(col("sum_bits") * 100.0 / col("n_tokens")).cast("long"))
  }

  /** Keyword search with a BM25-shaped ranking in EXACT integer
    * arithmetic — the corpus-tooling face of retrieval: per (doc, term)
    * term frequency, document frequency per term, and the score
    * `Σ_t floor(1000 · bitlen(N / df_t) · tf / (tf + satK))` — the
    * classic shape (idf × saturating tf) with `bitlen` standing in for
    * the logarithm so the gate never touches libm (the q153/q162
    * discipline; a production deployment swaps real BM25 — the pipeline
    * shape is identical).
    *
    * Scale: one token shuffle builds the postings for the (few) query
    * terms only — the filter runs BEFORE the shuffle, so the corpus
    * stream drops to matching tokens immediately; df is a terms-sized
    * aggregate joined back (broadcast at any scale). The idf numerator N
    * is a 1-row count aggregate cross-joined broadcast INSIDE the same
    * plan (column-pruned scan, served from parquet row-group metadata) —
    * not a separate `docs.count()` action, so the whole search is ONE
    * job and plan construction runs nothing. Output: one row per
    * matching doc — (doc_id, matched_terms, score_c). */
  /** Postings caches [[keywordSearch]]/[[bm25Search]] have persisted and
    * not yet released. The persists are LAZY (plan construction runs no
    * job), so the search functions cannot unpersist them themselves —
    * the cache must outlive the caller's action. A long-lived session
    * (server loop, notebook) calls [[releasePostings]] after each
    * query's result is materialized; otherwise release falls to the
    * GC-driven ContextCleaner, which is correct but unbounded in time. */
  private val livePostings =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private def trackPostings(df: DataFrame): Unit = livePostings.add(df)

  /** Unpersist every postings cache accumulated by [[keywordSearch]] /
    * [[bm25Search]] since the last release. Call AFTER the search
    * results have been materialized (written/collected): releasing
    * earlier is still correct but re-tokenizes the corpus twice for any
    * result materialized later. Returns the number released. */
  def releasePostings(): Int = {
    var n = 0
    var f = livePostings.poll()
    while (f != null) {
      f.unpersist(blocking = false)
      n += 1
      f = livePostings.poll()
    }
    n
  }

  def keywordSearch(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], satK: Long = 2L): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("__n"))
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("w"))
      .filter(col("w").isInCollection(terms))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      // lazy persist: tf feeds BOTH the scoring join and the df aggregate,
      // and Catalyst duplicates a twice-consumed subtree (no exchange
      // reuse across the re-aliased branches — measured, not assumed), so
      // without this the whole corpus is scanned and tokenized twice per
      // query. The cache is the terms-matched postings only; df then
      // costs a cache read, and everything stays distributed by doc (no
      // per-term single-task window — the skew-safe shape for common
      // terms). Lazy, so plan construction still runs no job. Tracked for
      // [[releasePostings]] — long-lived sessions release deterministically
      // instead of waiting on the GC-driven ContextCleaner.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackPostings(tf)
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(nDf))
      .withColumn("idf_bits", length(bin(col("__n") / col("df")))
        .cast("long"))
      .withColumn("term_score",
        floor(lit(1000) * col("idf_bits") * col("tf") /
          (col("tf") + lit(satK))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched_terms"),
        sum("term_score").as("score_c"))
  }

  /** Full BM25 (Robertson/Sparck Jones) with document-length
    * normalization — the production upgrade of [[keywordSearch]]'s
    * saturating-tf shape: per term
    * `floor(1000 · idf_bits · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)))`
    * with `k1 = k1Milli/1000`, `b = bMilli/1000` (defaults 1.2/0.75, the
    * textbook constants). `idf_bits` keeps the bitlen-for-log discipline;
    * the length ratio `dl / (total_len / N)` runs in per-row IEEE double
    * (bit-identical across engines) with a single floor at the end, so
    * the score is oracle-replayable to the bit.
    *
    * Scale: identical posting plan to [[keywordSearch]] plus the
    * (N, total token length) corpus-stats broadcast. The stats are a
    * SECOND full tokenize pass when computed in-plan, so pass a
    * [[corpusStats]] frame computed once per corpus snapshot (`stats`)
    * and each query tokenizes the corpus exactly once — the
    * per-corpus-amortized posture a 100 TB deployment wants (store the
    * stats next to the table at write time). With `stats = None` the
    * fallback computes them in-plan: correct, linear, two passes.
    * Output: (doc_id, matched_terms, score_c). */
  def bm25Search(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1Milli: Long = 1200L, bMilli: Long = 750L,
      stats: Option[DataFrame] = None): DataFrame = {
    val k1 = k1Milli / 1000.0
    val b = bMilli / 1000.0
    val ws = words(col(textCol))
    stats.foreach { st =>
      require(st.columns.toSeq == Seq("__n", "__tl"),
        s"stats must be a corpusStats frame (__n, __tl), " +
          s"got ${st.columns.mkString(",")}")
    }
    val statsDf = stats.getOrElse(corpusStats(docs, textCol))
    val tf = docs
      .select(col(idCol).as("doc_id"), size(ws).cast("long").as("dl"),
        explode(ws).as("w"))
      .filter(col("w").isInCollection(terms))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      // same twice-consumed-subtree fix as keywordSearch: cache the
      // matched postings so the df branch never re-tokenizes the corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trackPostings(tf)
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("w"))
      .crossJoin(broadcast(statsDf))
      .withColumn("idf_bits", length(bin(col("__n") / col("df")))
        .cast("long"))
      .withColumn("term_score", floor(
        lit(1000.0) * col("idf_bits") * col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
            lit(b) * (col("dl") / (col("__tl") / col("__n")))))).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("matched_terms"),
        sum("term_score").as("score_c"))
  }

  /** One-row corpus-stats frame for [[bm25Search]]: `__n` (document
    * count) and `__tl` (total token length, for avgdl). This is a full
    * tokenize pass — compute it ONCE per corpus snapshot, materialize
    * (localCheckpoint, or write next to the table at ingest — the
    * write-time-stats pattern), and hand it to every bm25 query so the
    * per-query cost is a single corpus pass. */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(count(lit(1)).as("__n"),
      sum(size(words(col(textCol)))).as("__tl"))

  /** Boilerplate line REMOVAL (the cleanup counterpart of
    * [[graft.operators.Dedup.boilerplateNgrams]]'s detection): drop every
    * line matching any of the removal `patterns` (nav bars, copyright
    * footers, cookie banners — the rules a curator writes from the
    * mining report), keeping the rest byte-exactly. Output:
    * (doc_id, kept_lines, removed_lines, clean_hash) — the cleaned text
    * is md5-gated without being shipped. Per-row projection, no
    * shuffle; the line filter is a single HOF over the split — one
    * interpreted lambda per line, not the stacked-HOF shape q152
    * rewrote. */
  def stripBoilerplate(docs: DataFrame, textCol: String, idCol: String,
      patterns: Seq[String]): DataFrame = {
    val lines = split(col(textCol), "\n")
    val isBoiler = (l: org.apache.spark.sql.Column) =>
      patterns.map(p => l.rlike(p)).reduce(_ || _)
    val kept = filter(lines, l => !isBoiler(l))
    docs.select(col(idCol).as("doc_id"),
      size(kept).cast("long").as("kept_lines"),
      (size(lines) - size(kept)).cast("long").as("removed_lines"),
      md5(array_join(kept, "\n")).as("clean_hash"))
  }

  /** KWIC snippet extraction for [[keywordSearch]] hits: the first match
    * position of `term` and a ±`window`-word context (clamped at the
    * document edges) — what a retrieval UI or a rule-writing curator
    * reads. Pure codegen'd Column projection (array_position + slice);
    * the snippet text is md5-gated, so the exact window replays without
    * shipping it. */
  def searchSnippets(docs: DataFrame, textCol: String, idCol: String,
      term: String, window: Int): DataFrame = {
    val ws = words(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), ws.as("__ws"),
        array_position(ws, term).as("__pos"))
      .filter(col("__pos") > 0)
      .select(col("doc_id"),
        (col("__pos") - 1).cast("long").as("match_idx"),
        md5(concat_ws(" ",
          slice(col("__ws"),
            greatest(col("__pos") - window, lit(1)).cast("int"),
            lit(2 * window + 1))))
          .as("snippet_hash"))
  }

  /** Sliding-window document chunking — the segmentation step that turns
    * variable-length documents into training-window-sized pieces: chunks
    * of `chunkWords` words advancing by `chunkWords - overlapWords`, the
    * overlap preserving cross-boundary context (the standard pre-training
    * prep). Chunk starts run while `start < max(n - overlap, 1)`, so the
    * tail is covered exactly once and a short document yields one chunk.
    *
    * Pure per-row projection + explode — no shuffle at any scale; the
    * chunk count is data-proportional (ceil(n/stride) rows out per doc).
    * Output: (doc_id, chunk_idx, n_words, chunk_hash) — the md5 makes
    * the exact chunk text oracle-checkable without shipping it. */
  def chunkDocs(docs: DataFrame, textCol: String, idCol: String,
      chunkWords: Int, overlapWords: Int): DataFrame = {
    require(overlapWords < chunkWords, "overlap must be below chunk size")
    val stride = chunkWords - overlapWords
    val ws = words(col(textCol))
    val nChunks = ceil(
      greatest(size(ws) - overlapWords, lit(1)) / stride.toDouble)
      .cast("int")
    docs
      .select(col(idCol).as("doc_id"), ws.as("__ws"), nChunks.as("__nc"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => concat_ws(" ",
            slice(col("__ws"), i * stride + 1, lit(chunkWords)))))
          .as(Seq("chunk_idx", "__chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long"),
        size(split(col("__chunk"), " ")).cast("long").as("n_words"),
        md5(col("__chunk")).as("chunk_hash"))
  }

  /** Bigram language-model surprisal with unigram backoff — the KenLM
    * shape of corpus-relative perplexity filtering (Heafield 2011 /
    * Wenzek et al. 2019), in the same EXACT integer arithmetic as
    * [[surprisalBits]] (token bits = `bitlen(context count) −
    * bitlen(event count)` via binary-string length — libm `ln` differs by
    * 1 ulp across engines, a hash gate cannot tolerate that).
    *
    * Model: P(w|prev) from bigram counts when the bigram is attested at
    * least `minCount` times, else back off to the unigram P(w) (counted
    * with `bitlen(N) − bitlen(c(w))`); a document's first token always
    * scores against the unigram model. Scoring a real held-out LM swaps
    * the tables; the pipeline shape stays: one token shuffle for the
    * unigram table, one bigram shuffle, three key joins back, one per-doc
    * aggregate. `broadcastTopK > 0` switches to the 100 TB posture FOR
    * REAL (not just prose): the `broadcastTopK` most frequent unigrams
    * and bigrams (ties lexicographic — deterministic) are collected via
    * distributed top-K and BROADCAST; scoring becomes one stateless
    * corpus pass with no token joins back. Lookups missing from the
    * truncated tables floor to count 1 (max surprisal) / back off —
    * when K covers the corpus the result is IDENTICAL to the join
    * formulation (spec-pinned); beyond that it is the standard
    * truncated-LM approximation.
    * Output: (doc_id, n_tokens, sum_bits, backoff_tokens,
    * bigram_surprisal_c = floor(100 × mean bits)). */
  def bigramSurprisalBits(docs: DataFrame, textCol: String,
      idCol: String, minCount: Long = 2L,
      broadcastTopK: Int = 0): DataFrame = {
    if (broadcastTopK > 0)
      return bigramSurprisalBroadcast(docs, textCol, idCol, minCount,
        broadcastTopK)
    val tk = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .select(col("doc_id"), col("__ws"),
        posexplode(col("__ws")).as(Seq("pos", "w")))
      // element_at is 1-based, pos is 0-based: element_at(ws, pos) is the
      // PREVIOUS word; null for the document's first token
      .withColumn("prev",
        when(col("pos") > 0, element_at(col("__ws"), col("pos"))))
      .drop("__ws")
    val uni = tk.groupBy("w").agg(count(lit(1)).as("f"))
    val tot = uni.agg(sum("f").as("n_total"))
    val bi = tk.filter(col("prev").isNotNull)
      .groupBy("prev", "w").agg(count(lit(1)).as("f2"))
    def bitlen(c: org.apache.spark.sql.Column) = length(bin(c)).cast("long")
    val backoff = col("prev").isNull || col("f2").isNull ||
      col("f2") < minCount
    val scored = tk.join(uni, Seq("w"))
      .join(uni.select(col("w").as("prev"), col("f").as("fp")),
        Seq("prev"), "left")
      .join(bi, Seq("prev", "w"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("bits",
        when(backoff, bitlen(col("n_total")) - bitlen(col("f")))
          .otherwise(bitlen(col("fp")) - bitlen(col("f2"))))
      .withColumn("__backoff",
        when(col("prev").isNotNull &&
          (col("f2").isNull || col("f2") < minCount), 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"),
        sum("__backoff").as("backoff_tokens"))
      .withColumn("bigram_surprisal_c",
        floor(col("sum_bits") * 100.0 / col("n_tokens")).cast("long"))
    // null-text docs vanish in the token explode (posexplode of null →
    // no rows) — emit the same null-measure row the broadcast path does,
    // so the two formulations stay row-for-row identical on any corpus
    val nullDocs = docs.filter(col(textCol).isNull)
      .select(col(idCol).as("doc_id"),
        lit(null).cast("long").as("n_tokens"),
        lit(null).cast("long").as("sum_bits"),
        lit(null).cast("long").as("backoff_tokens"),
        lit(null).cast("long").as("bigram_surprisal_c"))
    scored.unionByName(nullDocs)
  }

  /** The broadcast-model path of [[bigramSurprisalBits]]: distributed
    * top-K collects the truncated LM, the corpus pass is stateless. */
  private def bigramSurprisalBroadcast(docs: DataFrame, textCol: String,
      idCol: String, minCount: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val spark = docs.sparkSession
    import spark.implicits._
    val tok = docs.select(explode(words(col(textCol))).as("w"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("f"))
    val nTotal = uni.agg(sum("f")).as[Long].head()
    val uniTop: Map[String, Long] = uni
      .orderBy(col("f").desc, col("w")).limit(topK)
      .as[(String, Long)].collect().toMap
    val biTop: Map[(String, String), Long] = docs
      .select(words(col(textCol)).as("ws"))
      .select(posexplode(col("ws")).as(Seq("p", "w")), col("ws"))
      .filter(col("p") > 0)
      .select(element_at(col("ws"), col("p")).as("prev"), col("w"))
      .groupBy("prev", "w").agg(count(lit(1)).as("f2"))
      .orderBy(col("f2").desc, col("prev"), col("w")).limit(topK)
      .as[(String, String, Long)].collect()
      .map { case (p, w, f) => (p, w) -> f }.toMap
    val bcU = spark.sparkContext.broadcast(uniTop)
    val bcB = spark.sparkContext.broadcast(biTop)
    def bitlen(x: Long): Long = 64L - java.lang.Long.numberOfLeadingZeros(x)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType),
      StructField("sum_bits", LongType),
      StructField("backoff_tokens", LongType),
      StructField("bigram_surprisal_c", LongType)))
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        val u = bcU.value
        val b = bcB.value
        val nBits = bitlen(nTotal)
        rows.map { r =>
          if (r.isNullAt(1))
            Row(if (r.isNullAt(0)) null else r.getLong(0),
              null, null, null, null)
          else {
            val ws = r.getString(1).split(" ", -1)
            var sumBits = 0L
            var backoff = 0L
            var i = 0
            while (i < ws.length) {
              val cur = ws(i)
              val f2 =
                if (i == 0) None else b.get((ws(i - 1), cur))
              f2 match {
                case Some(c) if c >= minCount =>
                  // prev's unigram count ≥ its bigram counts, so a hit
                  // here floors to the bigram count if prev fell out
                  val fp = u.getOrElse(ws(i - 1), c)
                  sumBits += bitlen(fp) - bitlen(c)
                case _ =>
                  if (i > 0) backoff += 1
                  sumBits += nBits - bitlen(u.getOrElse(cur, 1L))
              }
              i += 1
            }
            Row(r.getLong(0), ws.length.toLong, sumBits, backoff,
              math.floor(sumBits * 100.0 / ws.length).toLong)
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Unicode NFC normalization report — the canonicalization pass a
    * multilingual corpus gets before any hashing/dedup (decomposed
    * combining sequences hash differently from their composed forms, so
    * exact dedup silently misses them without this). JVM
    * `Normalizer.normalize(NFC)` and DuckDB `nfc_normalize` implement the
    * same Unicode algorithm — verified byte-identical md5 — so the op is
    * oracle-replayable. Output: (doc_id, changed, norm_chars [code
    * points, matching SQL `length`], norm_hash). Per-row pass, no
    * shuffle. */
  def nfcNormalize(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("changed", BooleanType),
      StructField("norm_chars", LongType),
      StructField("norm_hash", StringType)))
    docs.select(col(idCol).cast("long"), col(textCol))
      .mapPartitions { rows =>
        rows.map { r =>
          if (r.isNullAt(1)) {
            // null text → null measurements (Column-operator null
            // propagation semantics)
            Row(if (r.isNullAt(0)) null else r.getLong(0), null, null, null)
          } else {
          val text = r.getString(1)
          val norm = java.text.Normalizer.normalize(text,
            java.text.Normalizer.Form.NFC)
          Row(r.getLong(0), norm != text,
            norm.codePointCount(0, norm.length).toLong,
            graft.functions.ShingleMd5Util.md5Hex(
              norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        }
      }(Encoders.row(outSchema))
  }

  /** Token counts: whitespace tokens, alpha-run tokens (BPE-ish regex), and
    * a chars/4 BPE-budget estimate. */
  def tokenCounts(text: Column): (Column, Column, Column) = (
    size(words(text)).cast("long"),
    size(regexp_extract_all(text, lit("[a-z]+"), lit(0))).cast("long"),
    ceil(length(text) / lit(4.0d)).cast("long"))

  /** Winnowing-style fingerprint: lexicographic-min md5 over 5-word
    * windows — stable under prefix/suffix edits. */
  def rollingFingerprint(text: Column): Column =
    array_min(transform(Dedup.shingles(text, 5), s => md5(s)))

  /** Bag fingerprint: md5 of the sorted distinct word set — stable under
    * word reordering. */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))
}
