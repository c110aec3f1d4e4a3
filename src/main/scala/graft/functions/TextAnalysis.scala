package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID, quality scoring,
  * token counting, document fingerprinting. Every function is a closed-form
  * Column expression (codegen'd, pushdown-friendly); the per-document cost is
  * O(doc length) with no shuffles — the whole module is a narrow map stage
  * at any corpus size.
  */
object TextAnalysis {

  val stopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "at", "by", "this")
  val stopwordsEs: Seq[String] = Seq("el", "la", "los", "las", "de", "y", "o",
    "en", "es", "que", "un", "una", "por", "con", "para", "del", "se", "al")
  val stopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "oder", "von",
    "zu", "in", "ist", "es", "dass", "für", "auf", "mit", "als", "bei", "ein", "eine")

  def words(text: Column): Column = filter(split(text, "\\s+"), w => w =!= "")

  /** whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text)).cast("long")

  /** BPE-ish subword count: alnum runs plus letter↔digit transitions — a
    * cheap, deterministic proxy for tokenizer cost (lookbehind-free so the
    * RE2-based oracle can replicate it). */
  def subwordCount(text: Column): Column =
    (size(filter(split(text, "[^a-zA-Z0-9]+"), w => w =!= "")) +
      regexp_count(text, lit("[a-zA-Z][0-9]|[0-9][a-zA-Z]"))).cast("long")

  /** Dedup-preprocessing normalization: lowercase, non-alphanumerics → one
    * space, whitespace runs collapsed, trimmed. Production near-dup
    * pipelines hash NORMALIZED text so case and punctuation variants of the
    * same content collide ("The quick fox!" ≡ "the quick fox"); compose
    * with [[graft.functions.Dedup.exact]]/minhash via a withColumn. Narrow,
    * and restricted to the Java∩RE2 regex subset so the oracle replicates
    * it character for character. The class is deliberately ASCII
    * ([a-z0-9]): unicode case folding diverges between engines (Turkish İ,
    * ligatures); non-Latin-script corpora should swap in \p{L}\p{N} and
    * accept engine-specific folding. Lowered to the native
    * [[graft.plans.NormalizeTextExpr]] (one byte pass for ASCII documents,
    * builtin-identical fallback otherwise — TextExprSpec pins equality
    * with [[normalizeTextComposed]]). */
  def normalizeText(text: Column): Column =
    graft.plans.TextExpressions.normalizeText(text)

  /** The composed-builtin formulation [[normalizeText]] must match (kept as
    * the spec's reference implementation and the oracle's SQL mirror). */
  def normalizeTextComposed(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** HTML → text extraction: the CommonCrawl-style boilerplate strip that
    * precedes every text-quality stage when the corpus arrives as markup.
    * Drops script/style/comment blocks (their CONTENT is not text), strips
    * remaining tags to spaces, decodes the five ubiquitous entities
    * (amp LAST, so `&amp;lt;` single-decodes to `&lt;` like a real parser),
    * collapses whitespace. Pure Column chain — narrow, codegen'd, zero
    * shuffle at any corpus size. Patterns stay in the Java∩RE2 subset
    * (case-insensitive + dotall flags, non-greedy repetition; no
    * lookaround), so the DuckDB oracle replays the chain verbatim. */
  def extractHtmlText(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(noTags,
        "&nbsp;", " "), "&lt;", "<"), "&gt;", ">"), "&quot;", "\""),
      "&amp;", "&")
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** punctuation character ratio (POSIX [[:punct:]] — same ASCII set in Java
    * regex and RE2, so the oracle matches). */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
      .cast("double") / greatest(length(text), lit(1)).cast("double")

  /** fraction of tokens that are stopwords of `dict` (set semantics on the
    * dict, multiset on the tokens). */
  def stopwordRatio(text: Column, dict: Seq[String]): Column = {
    val w = words(text)
    size(filter(w, x => array_contains(typedlit(dict), x))).cast("double") /
      greatest(size(w), lit(1)).cast("double")
  }

  def meanWordLen(text: Column): Column = {
    val w = words(text)
    aggregate(transform(w, x => length(x).cast("long")), lit(0L), (a, v) => a + v)
      .cast("double") / greatest(size(w), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length in a good band, low punct,
    * some stopwords (natural-language-ness). Weights are explicit so the
    * score is reproducible. */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lenOk = when(n.between(20, 2000), 1.0).otherwise(
      when(n.between(5, 5000), 0.5).otherwise(0.0))
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    val swOk = when(stopwordRatio(text, stopwordsEn) >= 0.05, 1.0).otherwise(0.0)
    (lenOk * 0.5 + punctOk * 0.25 + swOk * 0.25)
  }

  /** Language ID by stopword evidence: score per language = distinct
    * stopwords of that language present; argmax with fixed precedence
    * en > es > de > unknown. (array_intersect is set-semantics on both Spark
    * and DuckDB — the oracle mirrors this.) */
  def langScores(text: Column): (Column, Column, Column) = {
    val w = array_distinct(words(text))
    (size(array_intersect(w, typedlit(stopwordsEn))),
     size(array_intersect(w, typedlit(stopwordsEs))),
     size(array_intersect(w, typedlit(stopwordsDe))))
  }

  def langId(text: Column): Column = {
    val (en, es, de) = langScores(text)
    when(en === 0 && es === 0 && de === 0, "unknown")
      .when(en >= es && en >= de, "en")
      .when(es >= de, "es")
      .otherwise("de")
  }

  /** Per-document character-distribution Shannon entropy (nats) — the
    * classic gibberish / binary-content / repeated-character quality signal
    * (low entropy ⇒ degenerate text: padded runs, base64-ish blobs sit HIGH,
    * natural prose sits ~3–4 nats). Deterministic across engines by the
    * q_char_lm integer-micro discipline: each distinct char contributes
    * `n · round(round(ln(n/N), 6)·1e6)` (an exact long), the per-doc sum is
    * order-independent, and the single final division is one IEEE op.
    *
    * 100 TB shape: NO shuffle at all — the per-doc distribution comes out
    * of the native [[graft.plans.CharCounts]] expression (alphabet-bounded
    * array per row) and the entropy folds over it with one `aggregate`
    * higher-order call. One narrow scan at any corpus size; contrast the
    * composed form's corpus-sized char explode + (doc, char) aggregate.
    *
    * `keep` flags docs at or above `minEntropyNats` via the exact integer
    * compare `-microSum >= micro(threshold)·N` — no float threshold drift.
    * Empty AND NULL documents both get entropy 0 and keep=false (NULL text
    * is coalesced to "" up front so no tri-state NULL leaks into keep). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String,
      minEntropyNats: Double = 2.0): DataFrame = {
    val txt = coalesce(col(textCol), lit(""))
    val counts = graft.plans.TextExpressions.charCounts(txt)
    val n = col("n_chars")
    val microSum = aggregate(col("cc"), lit(0L), (acc, x) =>
      acc + x.getField("n") *
        round(round(log(x.getField("n").cast("double") / n), 6) * 1e6, 0)
          .cast("long"))
    val thresholdMicro = math.round(minEntropyNats * 1e6)
    df.select(col(idCol).cast("long").as("doc_id"),
        length(txt).cast("long").as("n_chars"), counts.as("cc"))
      .select(col("doc_id"), col("n_chars"),
        size(col("cc")).cast("long").as("distinct_chars"),
        (-microSum).as("neg_micro"))
      .select(col("doc_id"), col("n_chars"), col("distinct_chars"),
        when(n === 0L, 0.0)
          .otherwise(col("neg_micro").cast("double") / 1e6 / n).as("entropy"),
        (n > 0L && col("neg_micro") >= lit(thresholdMicro) * n).as("keep"))
  }

  /** Canonical content fingerprint: md5 of the sorted distinct token set —
    * stable under word order and duplication (bag-of-words identity). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  /** Full per-document profile in one narrow pass. */
  /** Per-document top-`k` terms by TF-IDF — the classic per-doc keyword
    * signal (topical fingerprinting, near-dup triage, corpus drift
    * monitoring). Splits on single spaces (the corpus convention of the
    * dedup family, NOT the `\s+` of [[words]] — the oracle recomputes the
    * same tokens), scores tf · ln(N/df), rounds to `dp` decimals for
    * cross-engine determinism, and tie-breaks (score desc, term asc).
    *
    * 100 TB shape: one (doc, term) shuffle for tf; document frequencies
    * aggregate from the tf table (vocabulary-sized, Zipf-bounded) and come
    * back as a BROADCAST join — corpus rows never shuffle on the term
    * again; the final top-k is a per-doc window over the tf table.
    *
    * `nDocs` is the precomputed document count (one cheap driver count). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, dp: Int = 6): DataFrame = {
    val nDocs = df.count()
    val tok = df.select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // tf is unique per (doc, term): df(term) = row count per term
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    // no forced broadcast: dfreq is VOCABULARY-sized (grows with the corpus
    // — same class as the NgramLm model tables, which are deliberately not
    // hinted). AQE auto-broadcasts it while it fits; at 100 TB the term
    // join shuffles, which is the only plan that survives there.
    val scored = tf.join(dfreq, Seq("term"))
      .withColumn("score",
        round(col("tf") * log(lit(nDocs.toDouble) / col("dfc").cast("double")),
          dp))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("score"))
  }

  /** Overlapping token-window chunking — the document-splitting step of
    * RAG and long-context training pipelines ([[graft.functions.Sampling]]
    * `packSequences` packs whole documents into rows; this SPLITS a
    * document into retrieval/training units first). Tokens are
    * single-space splits (the dedup-family corpus convention, mirrored by
    * the oracle); chunk i covers token window
    * [i·stride, i·stride + chunkTokens) with stride = chunkTokens −
    * overlap, and a document shorter than the overlap still yields one
    * chunk. Output: (doc_id, chunk_id, chunk_len, chunk).
    *
    * 100 TB shape: one narrow pass — split, windowed slices, posexplode;
    * no shuffle at any corpus size. Chunk multiplication is bounded by
    * ~n/stride per document. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val stride = chunkTokens - overlap
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    val n = size(toks)
    // sequence(0, k-1) with k=0 would produce a DESCENDING [0,-1] — guard
    // the empty-document case explicitly
    val nChunks = when(n <= 0, lit(0))
      .when(n <= overlap, lit(1))
      .otherwise(ceil((n - overlap).cast("double") / stride).cast("int"))
    df.select(col(idCol).cast("long").as("doc_id"), toks.as("_toks"),
        n.as("_n"), nChunks.as("_nc"))
      .select(col("doc_id"), col("_toks"), col("_n"),
        explode(when(col("_nc") > 0, sequence(lit(0), col("_nc") - 1))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col("doc_id"), col("_i").cast("long").as("chunk_id"),
        least(lit(chunkTokens), col("_n") - col("_i") * stride)
          .cast("long").as("chunk_len"),
        concat_ws(" ", slice(col("_toks"), col("_i") * stride + 1,
          lit(chunkTokens))).as("chunk"))
  }

  /** Corpus-trained character-bigram LM score — the classic cheap
    * perplexity proxy for quality filtering (a KenLM stand-in that needs no
    * external model): score(d) = avg over d's char bigrams of
    * ln P(c₂|c₁), with P estimated on the corpus itself under add-1
    * smoothing (V = distinct second characters). Gibberish, encoding noise
    * and wrong-alphabet text score far below clean prose trained on the
    * same corpus. Every input id appears in the output: docs with NULL or
    * <2-char text (no bigrams) score (0, 0.0) rather than vanishing.
    *
    * FP portability: each bigram's log-prob is rounded to `dp` decimals and
    * scaled to an integer ("micro") BEFORE summing, so the per-doc sum is
    * exact integer arithmetic — order-independent, reproducible bit-for-bit
    * by the SQL oracle; only the final printed average divides back to
    * double.
    *
    * 100 TB shape: two passes over the exploded bigrams — one groupBy(bg)
    * building the model (distinct bigrams ≈ alphabet², tiny), one broadcast
    * join of that model back onto the bigram stream with a map-side-partial
    * sum per doc. No shuffle ever carries more than (doc_id, long) rows. */
  def charLmScore(df: DataFrame, idCol: String, textCol: String,
      dp: Int = 6): DataFrame = {
    // Per-(doc, bigram) counts come straight out of the native
    // plans.CharBigramCounts expression — one JVM pass per document, each
    // distinct bigram built once (vs two interpreted higher-order functions
    // PER CHARACTER plus a corpus-sized (doc, bigram) hash aggregate in the
    // composed explode+groupBy form; TextExprSpec pins the multiset
    // equivalence). The model AND the scores both derive from this persisted
    // table; Σ n·lp ≡ Σ-per-occurrence lp exactly, both integer sums. The
    // bigram cache is released before returning (result materialized first)
    // so repeated calls don't leak executor blocks; the returned per-doc
    // result stays persisted.
    // no Scale.fanOut here: the native expression made the per-row work
    // cheap enough that the rebalance shuffle LOSES (measured min-of-3 at
    // sf0.1: 1.60 s without vs 2.34 s with — the composed form had measured
    // the other way, 4.5 → 2.8 s; see the fanOut decision table)
    val bgc = df.filter(length(col(textCol)) >= 2)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(graft.plans.TextExpressions.charBigramCounts(col(textCol)))
          .as("bgn"))
      .select(col("doc_id"), col("bgn.bg").as("bg"), col("bgn.n").as("n"))
      .persist()
    val m = bgc.groupBy(col("bg")).agg(sum(col("n")).as("n_bg"))
    val ctx = m.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("n_bg")).as("n_ctx"))
    val v = m.select(substring(col("bg"), 2, 1)).distinct().count()
    val lp = m.withColumn("c1", substring(col("bg"), 1, 1))
      .join(ctx, "c1")
      .select(col("bg"),
        round(round(log((col("n_bg") + 1).cast("double") /
          (col("n_ctx") + v).cast("double")), dp) * 1e6, 0)
          .cast("long").as("lp_micro"))
    val scores = bgc.join(broadcast(lp), "bg")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("lp_micro")).as("micro"))
      // raw IEEE division, no final round: the integer micro sum divides
      // bit-identically in any engine, whereas round(x, dp) tie-breaks
      // differently across round implementations (a 1-micro q_ngram_lm
      // mismatch at sf0.1 caught this class; hardened here too)
      .select(col("doc_id"), col("n_bigrams"),
        (col("micro").cast("double") / 1e6 / col("n_bigrams"))
          .as("lm_score"))
    // EVERY input id comes back — docs with NULL or <2-char text score
    // (n_bigrams=0, lm_score=0.0) instead of silently vanishing from the
    // output (the NgramLm.scoreAgainst contract; an inner re-join downstream
    // would otherwise lose them). The join reuses the groupBy's doc_id
    // partitioning on the scores side.
    val out = df.select(col(idCol).cast("long").as("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("lm_score"), lit(0.0)).as("lm_score"))
      .persist()
    out.count() // materialize before dropping the bigram cache
    bgc.unpersist()
    out
  }

  /** BM25 top-`k` documents for a bag of query terms — the retrieval
    * scoring complement of [[tfidfTopTerms]] (corpus search, relevance
    * filtering, query-based subset extraction). Okapi BM25 with the
    * Robertson-Sparck-Jones idf, `+1`-smoothed Lucene-style so idf stays
    * positive: idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); score(d) =
    * Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avgLen)). Scores
    * round to `dp` decimals; ties break by doc id.
    *
    * 100 TB shape: the corpus is touched by exactly one narrow pass (token
    * explode filtered to the query terms + per-doc length) and one
    * (doc)-keyed aggregation of the few surviving rows; N, avgLen and the
    * per-term dfs are two tiny driver actions over that filtered table. The
    * final top-k is a TakeOrdered, not a full sort. */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 20, k1: Double = 1.2, b: Double = 0.75,
      dp: Int = 6): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val docs = df.select(col(idCol).cast("long").as("doc_id"),
      split(col(textCol), " ").as("w"))
    // integer lengths: their sum is exact, so avgLen (and every score
    // derived from it) is partitioning- and engine-independent
    val lens = docs.select(col("doc_id"),
      size(filter(col("w"), x => x =!= "")).cast("long").as("len"))
    val statsRow = lens.agg(count(lit(1)), sum(col("len"))).head()
    val n = statsRow.getLong(0)
    // empty corpus: sum(len) is NULL (getLong would NPE) and avgLen would
    // divide by zero — nothing can score, return the empty result directly
    if (n == 0L)
      return lens.select(col("doc_id"), lit(0.0).as("score")).limit(0)
    val avgLen = statsRow.getLong(1).toDouble / n.toDouble
    val tf = docs.select(col("doc_id"), explode(col("w")).as("term"))
      .filter(col("term").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    bm25FromCounts(tf, lens, n, avgLen, k, k1, b, dp)
  }

  /** BM25 scoring from materialized (doc_id, term, tf) counts — the core
    * shared by the per-call [[bm25TopDocs]] and the persistent
    * [[InvertedIndex.query]]; one source of truth for the FP discipline
    * (term-lexicographic part folds, `dp` rounding, id tie-breaks). */
  private[functions] def bm25FromCounts(tf: DataFrame, lens: DataFrame,
      n: Long, avgLen: Double, k: Int, k1: Double, b: Double,
      dp: Int): DataFrame = {
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("dfc"))
    val idf = log(lit(1.0) +
      (lit(n.toDouble) - col("dfc").cast("double") + lit(0.5)) /
        (col("dfc").cast("double") + lit(0.5)))
    // vocabulary-sized side — AQE decides (see tfidfTopTerms note)
    val scored = tf.join(dfc.withColumn("idf", idf), Seq("term"))
      .join(lens, Seq("doc_id"))
      .withColumn("part",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("len").cast("double") / lit(avgLen))))
      .groupBy(col("doc_id"))
      // FP addition is order-sensitive: fold the per-term parts in
      // term-lexicographic order so the score is partitioning-independent
      // and bit-identical to an oracle summing in the same order
      .agg(sort_array(collect_list(struct(col("term"), col("part"))))
        .as("ps"))
      .select(col("doc_id"),
        round(aggregate(col("ps"), lit(0.0),
          (acc, x) => acc + x.getField("part")), dp).as("score"))
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }

  /** Mojibake repair table: the common UTF-8-bytes-read-as-Latin-1/
    * Windows-1252 double-encoding artifacts → the intended character
    * (the high-frequency subset of what ftfy fixes). Applied in order;
    * no replacement output contains a pattern character (Ã/â/Â), so the
    * chain is confluent — one pass, order-insensitive result. */
  val MojibakeTable: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€˜" -> "‘", "â€œ" -> "“",
    "â€“" -> "–", "â€”" -> "—", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¡" -> "á", "Ã³" -> "ó", "Ãº" -> "ú",
    "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü", "ÃŸ" -> "ß", "Ã±" -> "ñ",
    "Ã§" -> "ç", "Ã¯" -> "ï", "Â«" -> "«", "Â»" -> "»", "Â°" -> "°")

  /** Repair common mojibake sequences — a narrow `replace` chain, no
    * regex, stays in whole-stage codegen. Clean text passes through
    * byte-identical. */
  def fixMojibake(text: Column): Column =
    MojibakeTable.foldLeft(text) { case (c, (bad, good)) =>
      replace(c, lit(bad), lit(good))
    }

  /** Number of mojibake artifact occurrences in `text` — the corpus
    * health metric behind an encoding-quality gate (docs with a high
    * score went through a broken decode pipeline and usually need
    * re-extraction, not patching). Exact count via length arithmetic:
    * Σ (len(text) − len(text without pattern)) / len(pattern). */
  def mojibakeScore(text: Column): Column =
    MojibakeTable.map { case (bad, _) =>
      ((length(text) - length(replace(text, lit(bad), lit("")))) /
        lit(bad.length)).cast("long")
    }.reduce(_ + _)

  /** Unicode script ranges for [[scriptProfile]], as explicit codepoint
    * ranges (NOT named classes — Java spells them `\p{IsLatin}` and RE2
    * `\p{Latin}`, so ranges are the only regex form both engines parse
    * identically). Order matters: the dominant-script tie-break prefers
    * earlier entries. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "A-Za-zÀ-ɏ",
    "cyrillic" -> "Ѐ-ӿ",
    "greek" -> "Ͱ-Ͽ",
    "arabic" -> "؀-ۿ",
    "cjk" -> "一-鿿",
    "hangul" -> "가-힣")

  /** Per-script character fraction + dominant script — the script-level
    * language-ID gate multilingual curation runs before any tokenizer
    * (a wrong-script document poisons a monolingual corpus regardless
    * of its quality score). One narrow pass: per-script counts via
    * length arithmetic over a replace-all, fractions over total chars,
    * argmax with first-in-table tie-break (`unknown` when no script
    * char appears). */
  private def scriptCounts(t: Column): Seq[(String, Column)] =
    ScriptRanges.map { case (n, r) =>
      n -> (length(t) - length(regexp_replace(t, s"[$r]", "")))
    }

  /** Dominant script of `text` as a Column — argmax over [[ScriptRanges]]
    * with first-in-table tie-break, `unknown` when no script char
    * appears. Narrow; chains onto any batch or streaming frame. */
  def scriptGuess(t: Column): Column =
    scriptCounts(t).foldLeft((lit("unknown"), lit(0): Column)) {
      case ((gn, gc), (n, c)) =>
        (when(c > gc, lit(n)).otherwise(gn), when(c > gc, c).otherwise(gc))
    }._1

  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val total = greatest(length(t), lit(1))
    df.select(col(idCol) +: length(t).cast("long").as("n_chars") +:
      scriptCounts(t).map { case (n, c) => (c / total).as(s"${n}_frac") } :+
      scriptGuess(t).as("script_guess"): _*)
  }

  /** Rule-based sentence segmentation: a boundary is one-or-more of
    * `.!?` followed by whitespace (the whitespace is consumed). No
    * lookbehind — RE2 has none, and the oracle must replay the rule —
    * so the terminator is kept via a capture-group replacement that
    * inserts a U+0001 sentinel, then one split. Trailing text without a
    * terminator is a sentence; empty fragments are dropped. Output:
    * (id, sent_id, sentence, n_words), one narrow pass + posexplode. */
  def splitSentences(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val marked = regexp_replace(col(textCol), "([.!?]+)\\s+", "$1\u0001")
    df.select(col(idCol),
        posexplode(filter(split(marked, "\u0001"), s => s =!= "")).as(Seq("sent_id", "sentence")))
      .select(col(idCol), col("sent_id").cast("long").as("sent_id"),
        col("sentence"), tokenCount(col("sentence")).as("n_words"))
  }

  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
      tokenCount(t).as("n_tokens"),
      subwordCount(t).as("n_subwords"),
      length(t).cast("long").as("n_chars"),
      punctRatio(t).as("punct_ratio"),
      stopwordRatio(t, stopwordsEn).as("stopword_ratio"),
      meanWordLen(t).as("mean_word_len"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_guess"),
      fingerprint(t).as("fingerprint"))
  }
}
