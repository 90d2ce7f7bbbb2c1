package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization stats, quality scoring, language-ID heuristic, document
  * fingerprinting. All pure `functions._` column expressions — fully
  * codegen'd, no UDFs, embarrassingly parallel (no shuffle), so they scale
  * linearly with input splits at 100 TB.
  */
object TextOps {

  /** Word tokens: maximal [a-z0-9]+ runs of the lower-cased text. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")

  /** Token count as a direct run count — same value as `size(tokens(text))`
    * but from the one-pass byte scan ([[graft.functions.TextStats]]): no
    * regex engine, no split-array materialization.
    */
  def tokenCount(text: Column): Column =
    graft.functions.TextStats.textStats(lower(text)).getField("tokens")

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** BPE-ish subword count: words plus standalone punctuation marks. */
  def bpeishTokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")) +
      length(regexp_replace(text, "[\\w\\s]", ""))

  /** Non-blank lines of the text (blank = empty after space-trim). */
  def nonBlankLines(text: Column): Column =
    filter(split(text, "\n"), l => length(trim(l)) > 0)

  /** Fraction of non-blank lines that are repeats of an earlier line —
    * the Gopher-style repetition signal (machine-generated boilerplate
    * pages repeat nav/footer lines). Pure array expression, no shuffle.
    */
  def dupLineFraction(text: Column): Column = {
    val ls = nonBlankLines(text)
    when(size(ls) === 0, lit(0.0))
      .otherwise((size(ls) - size(array_distinct(ls))).cast("double") / size(ls))
  }

  /** Fraction of line CHARACTERS belonging to repeated lines (weights the
    * duplicate-line signal by how much of the page they cover).
    */
  def dupLineCharFraction(text: Column): Column = {
    val ls = nonBlankLines(text)
    val total = aggregate(ls, lit(0L), (a, x) => a + length(x))
    val distinctChars = aggregate(array_distinct(ls), lit(0L), (a, x) => a + length(x))
    when(total === 0L, lit(0.0))
      .otherwise((total - distinctChars).cast("double") / total)
  }
  /** Character-class ratios used by quality scoring — counts come from the
    * single-pass byte scan ([[graft.functions.TextStats]]; `translate`
    * copies the whole string per class, and the scans dominated quality
    * scoring). Digit counts are case-insensitive, so one stats pass over
    * `lower(text)` serves both ratios (codegen CSE shares it).
    */
  def alphaRatio(text: Column): Column =
    graft.functions.TextStats.textStats(lower(text)).getField("alpha")
      .cast("double") / greatest(length(text), lit(1))

  def digitRatio(text: Column): Column =
    graft.functions.TextStats.textStats(lower(text)).getField("digit")
      .cast("double") / greatest(length(text), lit(1))

  /** Total occurrences of any of `words` as whole words: ONE alternation
    * regex scan (`\b(w1|w2|…)\b`) — markers are single words so the
    * per-position match sets are disjoint and the alternation count equals
    * the sum of per-word counts, at 1/N the scan cost.
    */
  def stopwordCount(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit(words.mkString("\\b(", "|", ")\\b")))

  /** Whole-word existence test for any of `words`: `rlike` stops at the
    * FIRST match, vs `stopwordCount > 0` which scans the whole document
    * counting all of them — same boolean, a fraction of the regex work.
    */
  def containsAnyWord(text: Column, words: Seq[String]): Column =
    lower(text).rlike(words.mkString("\\b(", "|", ")\\b"))

  private val enStop = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Composite quality score in [0,1]: heavier on alpha content and mean
    * token length plausibility, penalizing digit soup — the standard
    * cheap pre-filter shape for LLM corpus curation.
    */
  def qualityScore(text: Column): Column = {
    val stats = graft.functions.TextStats.textStats(lower(text))
    val nTok = stats.getField("tokens").cast("double")
    val meanTokLen = when(nTok > 0,
      stats.getField("alnum").cast("double") / nTok).otherwise(lit(0.0))
    val lenOk = when(meanTokLen >= 2 && meanTokLen <= 12, lit(1.0)).otherwise(lit(0.5))
    val stopOk = when(containsAnyWord(text, enStop), lit(1.0)).otherwise(lit(0.7))
    // +1e-9 guard: component ratios can be binary-exact (e.g. 39/48), which
    // lands the score exactly on a .00005 rounding boundary where engines
    // disagree; the epsilon moves every boundary off representable values
    round(alphaRatio(text) * lit(0.5) + (lit(1.0) - digitRatio(text)) * lit(0.2) +
      lenOk * lit(0.2) + stopOk * lit(0.1) + lit(1e-9), 4)
  }

  /** Per-language stopword marker lists for the n-gram/stopword language
    * ID heuristic. Deterministic, tiny, and identical SQL is expressible
    * in the DuckDB oracle.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "fr" -> Seq("le", "la", "les", "des", "et"),
    "zh" -> Seq("的", "是", "不"))

  /** Predicted language: argmax of marker-word hit counts with a fixed
    * tie-break order (first listed wins; 'und' = undetermined when all 0).
    */
  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, ws) => lang -> stopwordCount(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, sc)) =>
      acc.when(sc === best, lit(lang))
    }.otherwise(lit("und"))
  }

  /** Document fingerprint: md5 of the whitespace/punctuation-normalized
    * lower-cased text — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "[^a-z0-9]+", " ")))

  /** Corpus-level top-k n-grams by document frequency: the global
    * frequent-phrase table every corpus audit starts from (boilerplate
    * mining, contamination screening, mixture fingerprinting). Returns
    * (ngram, doc_freq, occurrences) for the `k` n-grams appearing in the
    * most DISTINCT documents, ties broken by total occurrences then by
    * the gram string — a total order, so results are deterministic and
    * oracle-comparable. One exploded gram pass → (gram, doc) pre-
    * aggregation (hash shuffle spread over both keys, so a gram occurring
    * in millions of documents never lands on one reducer before it has
    * been collapsed to one row per doc) → per-gram aggregation (map-side
    * combined) → global top-k (per-partition top-k under TakeOrdered, no
    * full sort). String grams, not hashes: the output IS the phrase.
    */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, w: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val grams = df.select(col(idCol).as("__id"),
      explode(graft.ops.Dedup.shingles(col(textCol), w)).as("ngram"))
    grams.groupBy(col("ngram"), col("__id"))
      .agg(count(lit(1)).as("__occ"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("doc_freq"), sum(col("__occ")).as("occurrences"))
      .orderBy(col("doc_freq").desc, col("occurrences").desc, col("ngram"))
      .limit(k)
  }

  /** Strip boilerplate LINES: any line occurring in at least `minRepeats`
    * documents corpus-wide (headers, footers, nav chrome) is removed from
    * every document; remaining lines rejoin in original order. The
    * line-frequency table is one hash aggregation over exploded lines
    * (map-side combined) and is broadcast back — the standard corpus-
    * level cleanup pass, all built-ins, no UDFs.
    */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minRepeats: Int): org.apache.spark.sql.DataFrame = {
    val lines = df.select(col(idCol), posexplode(split(col(textCol), "\n"))
      .as(Seq("__pos", "__line")))
    val frequent = lines.groupBy("__line")
      .agg(countDistinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minRepeats)
      .select("__line")
    lines.join(broadcast(frequent), Seq("__line"), "left_anti")
      .groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("clean_text"))
  }

  /** Word bigrams as (w1, w2) structs; empty for documents under two
    * tokens (the zip_with-of-shifted-slices shape — see
    * [[graft.ops.Dedup.shingles]] for why not transform-over-sequence).
    */
  def wordBigrams(text: Column): Column = {
    val toks = tokens(text)
    val m = size(toks) - 1
    when(size(toks) < 2, array().cast("array<struct<w1:string,w2:string>>"))
      .otherwise(zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
  }

  /** Perplexity-proxy quality score from a self-trained word-bigram
    * language model with add-1 smoothing: each document's score is the
    * mean log-probability `ln((count(w1 w2)+1) / (count(w1)+V))` over its
    * bigrams — fluent text repeats the corpus' frequent transitions and
    * scores high; gibberish scores low. The classic cheap LM filter,
    * fully distributed: the model IS two hash aggregations (bigram and
    * unigram counts) broadcast back against the corpus — no trained
    * artifacts, no driver-side state, deterministic. Returns
    * (idCol, n_bigrams, lm_score); documents under two tokens are absent.
    */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = df
      .select(col(idCol), explode(wordBigrams(col(textCol))).as("__bg"))
      .select(col(idCol), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val uni = df.select(explode(tokens(col(textCol))).as("w1"))
    val ucnt = uni.groupBy("w1").agg(count(lit(1)).as("__uc"))
    val vocab = uni.agg(countDistinct("w1").as("__v"))
    // the bigram "model" stays implicit: a count window over the pairs
    // themselves (one hash exchange on (w1,w2)) — a materialized bigram
    // table is vocabulary², far too large to broadcast at corpus scale,
    // while the unigram table is vocabulary-sized and broadcasts fine
    pairs
      .withColumn("__bc", count(lit(1)).over(Window.partitionBy("w1", "w2")))
      .join(broadcast(ucnt), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__lp", log((col("__bc") + 1).cast("double") / (col("__uc") + col("__v"))))
      .groupBy(idCol)
      // the 1e-9 guard moves dyadic-boundary rounding off .00005 edges
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg("__lp") + lit(1e-9), 4).as("lm_score"))
  }

  /** Fixed-size token chunking with overlap: the document's word tokens
    * are windowed into `maxTok`-token chunks starting every
    * `stride = maxTok - overlap` tokens — the context-window splitting
    * step before tokenization/embedding of long documents. Returns the
    * array of chunk strings (rejoined with single spaces); a document with
    * ≤ `maxTok` tokens yields exactly one chunk (possibly empty for empty
    * text). Pure array expressions (`sequence` → `slice` → `concat_ws`)
    * inside whole-stage codegen — map-only at any scale.
    */
  def chunks(text: Column, maxTok: Int, overlap: Int): Column = {
    require(maxTok > 0 && overlap >= 0 && overlap < maxTok,
      "need 0 <= overlap < maxTok")
    val stride = maxTok - overlap
    val ws = tokens(text)
    val n = size(ws)
    val nChunks = when(n <= maxTok, lit(1)).otherwise(
      lit(1) + ceil((n - lit(maxTok)).cast("double") / stride).cast("int"))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(ws, i * stride + 1, lit(maxTok))))
  }

  /** Top-`k` characteristic terms per document by tf·idf, with the inverse
    * document frequency as the exact rational `(N+1)/(df+1)` (no
    * logarithm: integer-derived doubles divide identically in every IEEE
    * engine, so the ranking — and the oracle hash — is reproducible
    * bit-for-bit; log-idf orders identically since log is monotone).
    * Returns (idCol, rank, term, tf, df_t, score).
    *
    * Scale shape: one explode + (doc, term) hash agg (map-side combined),
    * a term-frequency agg on the SAME shuffled data, broadcast of the
    * (small, vocabulary-sized) df table back, and a per-doc top-k window.
    * The corpus-size scalar joins in as a broadcast literal — no driver
    * collect of data rows.
    */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df_t"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * (col("__n") + 1)).cast("double") / (col("df_t") + 1))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df_t"),
        round(col("score"), 4).as("score"))
  }

  // PII scrubbing for training corpora: regex families kept simple enough
  // to be byte-identical in DuckDB's RE2 (no lookaround, no backrefs).
  private[ops] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[ops] val UrlRe   = "https?://[^\\s]+"
  private[ops] val PhoneRe = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"

  /** Redact emails, URLs and phone-number-ish digit runs with typed
    * placeholders — the standard pre-training scrub. One codegen'd
    * regexp_replace per family, no UDF, linear per-split scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  /** Redaction counts per family, in [[redactPii]]'s application order
    * (emails on raw text, URLs after email masking, phones after both).
    */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, EmailRe, "<EMAIL>")
    val afterUrl = regexp_replace(afterEmail, UrlRe, "<URL>")
    (regexp_count(text, lit(EmailRe)),
      regexp_count(afterEmail, lit(UrlRe)),
      regexp_count(afterUrl, lit(PhoneRe)))
  }
}
