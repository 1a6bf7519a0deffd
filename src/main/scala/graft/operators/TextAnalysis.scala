package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.Text

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * narrow per-row column computations (no shuffle except fingerprint's
  * shingle-min) — they scale linearly and stay inside whole-stage
  * codegen except the documented higher-order-function lambdas.
  */
object TextAnalysis {

  private def withWords(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__ws", expr(Text.wordsExpr(textCol)))

  /** Stopword-overlap language ID. Scores each language by stopword
    * hits; deterministic argmax (tie broken by the fixed language order
    * en, de, es, fr, zh).
    */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = Text.Stopwords.map(_._1)
    val scored = langs.foldLeft(withWords(df, textCol)) { (d, l) =>
      d.withColumn(s"score_$l",
        expr(Text.stopwordCountExpr("__ws", l)).cast(LongType))
    }
    // argmax CASE chain: first language (in declared order) whose score
    // is >= all others wins — mirrors the oracle's CASE exactly.
    val predicted = langs.foldRight(lit(langs.last)) { (l, els) =>
      val beatsAll = langs.filter(_ != l)
        .map(o => col(s"score_$l") >= col(s"score_$o"))
        .reduce(_ && _)
      when(beatsAll, lit(l)).otherwise(els)
    }
    scored
      .withColumn("predicted_lang", predicted)
      .select((idCol +: langs.map(l => s"score_$l") :+ "predicted_lang").map(col): _*)
  }

  /** Length / vocabulary / stopword quality metrics + a coarse bucket. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withWords(df, textCol)
      .withColumn("n_chars", length(col(textCol)).cast(LongType))
      .withColumn("n_words", size(col("__ws")).cast(LongType))
      .withColumn("n_distinct_words", size(array_distinct(col("__ws"))).cast(LongType))
      .withColumn("avg_word_len",
        expr("aggregate(transform(__ws, w -> length(w)), 0, (a, x) -> a + x)")
          .cast(DoubleType) / col("n_words"))
      .withColumn("stopword_ratio",
        expr(Text.stopwordCountExpr("__ws", "en")) * lit(1.0) / col("n_words"))
      .withColumn("distinct_ratio", col("n_distinct_words") * lit(1.0) / col("n_words"))
      .withColumn("quality_bucket",
        when(col("n_words") >= 40 && col("distinct_ratio") >= 0.35, "high")
          .when(col("n_words") >= 20, "medium")
          .otherwise("low"))
      .select(idCol, "n_chars", "n_words", "n_distinct_words", "avg_word_len",
        "stopword_ratio", "distinct_ratio", "quality_bucket")

  /** Whitespace token count + a BPE-ish estimate (ceil(len/4) per word). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withWords(df, textCol)
      .select(
        col(idCol),
        size(col("__ws")).cast(LongType).as("ws_tokens"),
        expr("aggregate(transform(__ws, w -> (length(w) + 3) div 4), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("bpe_tokens"))

  /** Winnowing fingerprints (Schleimer et al.): hash every char
    * k-gram, slide a window of `w` positions, keep each window's
    * minimum — the classic local fingerprinting scheme whose selected
    * hashes are stable under edits outside the window. Output is the
    * distinct fingerprint set per document.
    *
    * Computed entirely ROW-LOCALLY with array higher-order functions:
    * the gram sequence is already in positional order inside its array,
    * so the sliding minima need no per-doc window — an earlier
    * formulation exploded every char position and ran
    * `min() OVER (PARTITION BY doc ORDER BY pos)`, paying a shuffle
    * and per-doc sort of |text| rows per document. At 100 TB the HOF
    * form is embarrassingly parallel: zero shuffles, no skew exposure
    * to long documents. `slice` clamps at the array end, so trailing
    * partial windows contribute their suffix minima exactly like the
    * window frame (and the DuckDB oracle) do.
    *
    * Codegen trade, measured: HOF lambdas evaluate interpreted, so the
    * per-gram PolyHash runs ~2x slower than the old codegen'd
    * projection — but the old plan paid TWO 5M-row shuffles (window +
    * global distinct) that this form eliminates entirely; local wall
    * time is a wash (~2.9 s at sf0.1 either way) and the cluster cost
    * model strictly favors zero-shuffle.
    */
  def winnow(df: DataFrame, idCol: String, textCol: String,
             k: Int = 5, w: Int = 4): DataFrame = {
    val grams = transform(
      sequence(lit(1), greatest(length(col(textCol)) - lit(k - 1), lit(1))),
      i => col(textCol).substr(i, lit(k)))
    // per-char-gram hashing + rolling minima are the suite's densest
    // row-local chain; on a one-split corpus the whole gate ran as a
    // single 2.5 s task (Profile stages) — spread-if-narrow keeps the
    // zero-shuffle shape on any many-split production scan
    Spread.ifNarrow(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), transform(grams, g => Text.polyhash(g)).as("__hs"))
      .select(col(idCol),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("__hs"))),
          i => array_min(slice(col("__hs"), i, lit(w)))))).as("fp"))
  }

  /** Winnowing near-dup pairs (the MOSS discipline): documents sharing
    * at least `minShared` winnow fingerprints ([[winnow]]) surface as
    * local-overlap candidates — robust to edits outside the shared
    * windows, which is what catches quoted passages and
    * template-with-insertions where whole-document minhash dilutes.
    * Fingerprints appearing in more than `maxDf` documents are dropped
    * BEFORE pairing (the standard boilerplate exclusion — a shared
    * header's fingerprint would otherwise generate df² candidates;
    * same reasoning as the banding degenerate-bucket guard, resolved
    * here by deterministic exclusion because ubiquitous fingerprints
    * carry no similarity signal). Pure integer counts — trivially
    * engine-exact.
    *
    * Spec-verified (TextAnalysisSpec), deliberately NOT a corpus gate:
    * the synthetic documents table draws from a ~31-word template
    * vocabulary, which collapses the char-gram fingerprint space
    * (measured at sf0.1: 1139 distinct fingerprints across 5000 docs,
    * median df 285) — every cap setting is either vacuous or
    * quadratic THERE, while on a constructed corpus with real lexical
    * diversity the operator behaves as designed.
    */
  def winnowNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4, maxDf: Long = 50,
                         minShared: Long = 5): DataFrame = {
    val fps = winnow(df, idCol, textCol, k, w)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("fp")
    val kept = fps.join(rare, "fp")
    val a = kept.select(col("fp"), col(idCol).as("doc_a"))
    val b = kept.select(col("fp"), col(idCol).as("doc_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** TF-IDF-style term weighting without the logarithm (kept rational
    * so the score is exactly reproducible cross-engine): score =
    * tf * n_docs / df. Returns the top `k` terms per document with
    * deterministic tie-breaking.
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Single pass over the exploded words: tf = groupBy(doc, word); since
    // tf already holds exactly one row per distinct (doc, word), document
    // frequency is COUNT(*) OVER (PARTITION BY word) on tf — no second
    // explode scan, no distinct, no self-join. n_docs rides along as a
    // 1-row broadcast (in-plan scalar), never a driver-side count().
    val nDocs = df.agg(count(lit(1)).as("__n_docs"))
    val tf = withWords(df, textCol)
      .select(col(idCol), explode(col("__ws")).as("word"))
      .groupBy(idCol, "word").agg(count(lit(1)).as("tf"))
    val byWord = Window.partitionBy("word")
    val w = Window.partitionBy(idCol).orderBy(col("score").desc, col("word"))
    tf.withColumn("df", count(lit(1)).over(byWord))
      .crossJoin(nDocs)
      .withColumn("score", (col("tf") * col("__n_docs")).cast(DoubleType) / col("df"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("word"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Document fingerprint: rolling hash of the full text plus the
    * minimum shingle hash (a 1-perm minhash — robust to rotation).
    */
  /** Repetition profile per document — the duplicate-n-gram signal
    * quality filters threshold on (a heavily repeated bigram marks
    * boilerplate/spam): total bigram occurrences, distinct bigrams, and
    * the hottest bigram's count. Two per-doc partial-agg shuffles
    * ((doc, gram) then doc) — no windows, no all-pairs.
    */
  def repetition(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 2): DataFrame =
    withWords(df, textCol)
      .select(col(idCol), explode(expr(Text.ngramsExpr("__ws", n))).as("__g"))
      .groupBy(col(idCol), col("__g"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("__cnt")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("__cnt")).as("top_count"))

  /** Canonical text normalization — the pass every training corpus
    * takes before tokenization/dedup: lowercase, strip everything
    * outside [a-z0-9 ], collapse whitespace runs, trim. Patterns stay
    * inside the regex subset Java and RE2 agree on, so the operator is
    * exactly oracle-checkable. Per-row, codegen'd, no shuffle.
    */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      trim(regexp_replace(
        regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""),
        " +", " ")).as("norm_text"))

  /** Accent-folding table, the single source of truth for BOTH engines:
    * 1:1 Latin diacritic strips (applied as one `translate` pass) and
    * the multi-char expansions (ß→ss, æ→ae, œ→oe, ø→o is 1:1 but Þ/þ
    * expand). Deliberately a FIXED table, not locale-dependent libc
    * collation — the fold must produce identical bytes on every engine
    * and every deployment for normalized keys to join.
    */
  val FoldFrom: String =
    "áàâäãåéèêëíìîïóòôöõúùûüýÿñçÁÀÂÄÃÅÉÈÊËÍÌÎÏÓÒÔÖÕÚÙÛÜÝÑÇøØ"
  val FoldTo: String =
    "aaaaaaeeeeiiiiooooouuuuyyncAAAAAAEEEEIIIIOOOOOUUUUYNCoO"
  val FoldExpansions: Seq[(String, String)] =
    Seq("ß" -> "ss", "æ" -> "ae", "Æ" -> "AE", "œ" -> "oe", "Œ" -> "OE")

  /** NFC-normalize then fold diacritics to ASCII: the canonical text
    * key for joins/dedup over web text, where the same visible string
    * arrives precomposed, decomposed, and accent-varied. NFC first is
    * load-bearing — the translate table matches PRECOMPOSED code
    * points, so a decomposed e+U+0301 must compose before folding.
    * Row-local and codegen'd end to end.
    */
  def foldedKey(c: Column): Column = {
    val nfc = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.NfcNormalize(
        org.apache.spark.sql.GraftColumnBridge.expression(c)))
    FoldExpansions.foldLeft(translate(nfc, FoldFrom, FoldTo)) {
      case (acc, (from, to)) => regexp_replace(acc, from, to)
    }
  }

  /** DuckDB text computing the IDENTICAL fold over `e`. */
  def foldedKeySql(e: String): String = {
    val base = s"translate(nfc_normalize($e), '$FoldFrom', '$FoldTo')"
    FoldExpansions.foldLeft(base) {
      case (acc, (from, to)) => s"replace($acc, '$from', '$to')"
    }
  }

  /** URL canonicalization — the web-corpus dedup key: lowercase scheme
    * and host, strip the scheme's default port and a leading `www.`,
    * drop the fragment, strip trailing path slashes (empty path → `/`),
    * drop `utm_`-prefixed tracking params, and SORT the surviving query
    * params so parameter order can't split a page into two keys. Two
    * crawls of the same page then collapse onto one canonical string —
    * the URL-level dedup that runs before any content hash at 100 TB
    * (cheaper than fetching, catches the redirect/tracking-link
    * explosion). Row-local, regex + array ops only, no shuffle; the
    * [[canonicalUrlSql]] twin computes the identical bytes in DuckDB.
    */
  def canonicalUrl(c: Column): Column = {
    val url = c
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val rest = regexp_replace(url, "^[A-Za-z]+://", "")
    val hostport = lower(regexp_extract(rest, "^([^/?#]*)", 1))
    val noPort = when(scheme === "https",
        regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val host = regexp_replace(noPort, "^www\\.", "")
    val pathqf = regexp_replace(regexp_replace(rest, "^[^/?#]*", ""),
      "#.*$", "")
    val rawPath = regexp_extract(pathqf, "^([^?]*)", 1)
    val path = when(regexp_replace(rawPath, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    val query = regexp_extract(pathqf, "\\?(.*)$", 1)
    val qs = array_join(array_sort(filter(split(query, "&"),
      p => !p.startsWith("utm_") && p =!= "")), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** DuckDB text computing the IDENTICAL canonicalization over `e`. */
  def canonicalUrlSql(e: String): String = {
    val scheme = s"lower(regexp_extract($e, '^([A-Za-z]+)://', 1))"
    val rest = s"regexp_replace($e, '^[A-Za-z]+://', '')"
    val hostport = s"lower(regexp_extract($rest, '^([^/?#]*)', 1))"
    val noPort =
      s"""CASE WHEN $scheme = 'https' THEN regexp_replace($hostport, ':443$$', '')
         |  WHEN $scheme = 'http' THEN regexp_replace($hostport, ':80$$', '')
         |  ELSE $hostport END""".stripMargin
    val host = s"regexp_replace($noPort, '^www\\.', '')"
    val pathqf =
      s"regexp_replace(regexp_replace($rest, '^[^/?#]*', ''), '#.*$$', '')"
    val rawPath = s"regexp_extract($pathqf, '^([^?]*)', 1)"
    val path =
      s"""CASE WHEN regexp_replace($rawPath, '/+$$', '') = '' THEN '/'
         |  ELSE regexp_replace($rawPath, '/+$$', '') END""".stripMargin
    val query = s"regexp_extract($pathqf, '\\?(.*)$$', 1)"
    // coalesce: DuckDB's array_to_string returns NULL (not '') for an
    // empty list, unlike Spark's array_join
    val qs = s"coalesce(array_to_string(list_sort(list_filter(" +
      s"string_split($query, '&'), " +
      s"p -> NOT starts_with(p, 'utm_') AND p <> '')), '&'), '')"
    s"""$scheme || '://' || $host || $path ||
       |  CASE WHEN $qs = '' THEN '' ELSE '?' || $qs END""".stripMargin
  }

  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = withWords(df, textCol)
      .withColumn("__sh", expr(Text.shinglesExpr("__ws")))
    val minShingle = base
      .select(col(idCol), explode(col("__sh")).as("__s"))
      .groupBy(idCol)
      .agg(min(Text.polyhash(col("__s"))).as("min_shingle_hash"))
    base
      .select(col(idCol), Text.polyhash(col(textCol)).as("fingerprint"))
      .join(minShingle, idCol)
  }

  /** Per-document out-of-vocabulary rate against a corpus-derived
    * top-`vocabSize` vocabulary — the tokenizer-prep signal that decides
    * whether a vocab covers a corpus (and flags docs that are mostly
    * OOV noise). Vocabulary selection is deterministic (count desc,
    * word asc) and runs as TakeOrderedAndProject — a distributed top-k,
    * never a global sort; the vocab is then broadcast-sized by
    * construction, so the membership join is a broadcast hash join and
    * the only shuffles are the two partial-agg group-bys.
    */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 1000): DataFrame = {
    val words = df.select(col(idCol),
      explode(expr(Text.wordsExpr(textCol))).as("__w"))
    val vocab = words.groupBy(col("__w")).agg(count(lit(1)).as("__cnt"))
      .orderBy(col("__cnt").desc, col("__w")).limit(vocabSize)
      .select(col("__w"), lit(1L).as("__in"))
    words.join(broadcast(vocab), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Collocation mining: adjacent word pairs scored by LIFT —
    * c(ab)·N / (c(a)·c(b)), the log-free PMI core — so strongly
    * associated bigrams rank above merely frequent ones. All counts
    * stay integers and every product fits a Long far past corpus
    * scale (≤ 2^53 keeps the one double division engine-exact), which
    * is what makes an association score hash-gateable where log-PMI's
    * libm dependence is not. Two partial-agg shuffles (bigrams,
    * unigrams), broadcast-joined counts, TakeOrdered top-k — no global
    * sort, no pair blowup beyond the corpus's own adjacency.
    */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 5, k: Int = 20): DataFrame = {
    val words = df.select(col(idCol), expr(Text.wordsExpr(textCol)).as("__ws"))
    // greatest(…, 0): a zero-word document would pass slice a length of
    // -1, which Spark rejects at runtime — clamp to an empty slice
    val bi = words.select(explode(expr(
        "transform(slice(__ws, 1, greatest(size(__ws) - 1, 0)), " +
          "(w, i) -> struct(w AS a, __ws[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val uni = words.select(explode(col("__ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n"))
    bi.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
      .join(broadcast(uni.select(col("w").as("a"), col("c").as("__ca"))), "a")
      .join(broadcast(uni.select(col("w").as("b"), col("c").as("__cb"))), "b")
      .crossJoin(broadcast(tot))
      .withColumn("lift",
        (col("c_ab") * col("n")).cast("double") / (col("__ca") * col("__cb")))
      .select(col("a"), col("b"), col("c_ab"), col("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Feature hashing (the hashing trick): each token maps to one of
    * `dims` buckets by portable hash, and a document's sparse feature
    * vector is its per-bucket counts — fixed-width features with NO
    * vocabulary to build, broadcast, or version, which is the property
    * that lets feature extraction run embarrassingly parallel over
    * 100 TB (one narrow explode + one partial-agg shuffle; compare
    * qt09's corpus-wide vocabulary pass). Collisions are the accepted
    * trade, deterministic here by the engine-portable hash.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  dims: Int = 64): DataFrame =
    df.select(col(idCol), explode(expr(Text.wordsExpr(textCol))).as("__w"))
      .groupBy(col(idCol),
        pmod(Text.polyhash(col("__w")), lit(dims.toLong)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** PII patterns shared by the operator and its oracle: the regex
    * subset Java (Spark) and RE2 (DuckDB) interpret identically —
    * character classes, bounded/unbounded repetition, ASCII `\b`. No
    * lookarounds, no backreferences (RE2 has neither).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\b\\d{7,}\\b"

  /** PII redaction — the pre-training scrub pass: emails, IPv4
    * addresses, and long digit runs (phone/account numbers) replaced by
    * typed placeholders, with per-type match counts for audit. Order
    * matters and is fixed (email → ip → number) so a digit inside an
    * address is never double-redacted; counts are taken on the ORIGINAL
    * text so they are independent of that order. Per-row, codegen'd
    * regex — a narrow map over the scan, no shuffle, trivially
    * partition-parallel at 100 TB.
    */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        LongNumRe, "<NUM>").as("redacted"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(col(textCol), lit(LongNumRe)).cast("long").as("n_numbers"))

  /** HTML boilerplate stripping — the first step of a web-corpus
    * pipeline (crawl HTML → training text): drop tags, decode the
    * five core character entities, squeeze whitespace, and report the
    * removed-tag count for audit. Deliberately REGULAR (no HTML
    * parser): `<[^>]*>` + fixed entity table behaves identically in
    * every regex engine, which is what makes the result exactly
    * oracle-gateable — and covers the overwhelming share of crawl
    * markup; script/style CONTENT survives as text, a documented
    * trade-off a later quality filter (qt02/qt14) catches. `&amp;`
    * decodes LAST so `&amp;lt;` can't double-decode. Per-row codegen'd
    * regex — a narrow map over the scan, no shuffle, trivially
    * partition-parallel at 100 TB.
    */
  def stripHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val tagRe = "<[^>]*>"
    val noTags = regexp_replace(col(htmlCol), tagRe, " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&amp;" -> "&" // last: see above
    ).foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    df.select(col(idCol),
      trim(regexp_replace(decoded, "[ \t\n\r]+", " ")).as("text"),
      regexp_count(col(htmlCol), lit(tagRe)).cast("long").as("n_tags"))
  }

  /** Statistical-LM fluency score — the perplexity-style quality filter
    * (docs whose word transitions are improbable under a corpus-trained
    * bigram model are boilerplate/garble candidates), in a form that is
    * exact across engines. `lm_score` is the per-doc mean conditional
    * bigram probability E[P(w_i | w_{i-1})] in parts-per-`scale`:
    * each term is the INTEGER floor division c(ab)·scale div c(a·) —
    * no libm, no order-dependent double sums (the qt12 log-free-lift
    * discipline; log-perplexity's ln() is library-specific in its last
    * ulp and would break the hash gate). All intermediates fit a Long:
    * c(ab) ≤ corpus bigrams, ×10⁹ < 2⁶³ far past 100 TB-corpus counts.
    *
    * Shape: the per-doc bigram counts aggregate once; the model's
    * c(ab)/c(a·) tables derive from IT (Catalyst reuses the exchange),
    * join back on the bigram key, then one doc-keyed partial agg — three
    * shuffles total, every one on a key the data itself bounds.
    */
  /** TextRank keyword extraction: PageRank over the word-adjacency
    * graph (nodes = words, undirected edges = adjacent pairs seen at
    * least `minCount` times), `iters` damped iterations, top-`k` words
    * by final rank. The classic graph-centrality keyword scorer —
    * frequent-but-promiscuous words (stopwords) rank below words that
    * co-occur with other well-connected words.
    *
    * Engine-exact by FIXED-POINT INTEGER arithmetic: ranks live in
    * parts-per-1e9 Longs; each transfer is (pr·85) div (100·deg) —
    * integer floor division, no doubles anywhere, so a 5-iteration
    * fixpoint hash-gates across engines (the qt12/qt14 log-free
    * discipline applied to an ITERATIVE algorithm; the tiny floored
    * mass leak is deterministic in both engines). Longs hold far past
    * any real vocabulary: pr ≤ |V|·1e9 and ·85 stays < 2⁶³ up to
    * ~10⁸ nodes; shift the fixed-point down for a larger graph.
    *
    * Shape: the edge list + degrees build once (two partial-agg
    * shuffles over the corpus's own adjacency); each iteration is one
    * vocab-keyed join + one partial agg — the plan unrolls `iters`
    * times with the edge subtree shared via exchange reuse. No global
    * sort: the top-k is TakeOrderedAndProject.
    */
  def textRank(df: DataFrame, idCol: String, textCol: String,
               minCount: Long = 3, iters: Int = 5, k: Int = 50): DataFrame = {
    require(iters >= 1 && iters <= 16, "unrolled plan: keep iters small")
    val words = df.select(col(idCol), expr(Text.wordsExpr(textCol)).as("__ws"))
    val bi = words.select(explode(expr(
        "transform(slice(__ws, 1, greatest(size(__ws) - 1, 0)), " +
          "(w, i) -> struct(w AS a, __ws[i + 1] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .select("a", "b")
    val edges = bi.union(bi.select(col("b").as("a"), col("a").as("b"))).distinct()
    val deg = edges.groupBy("a").agg(count(lit(1)).as("d"))
    // (a, b, d): source, target, out-degree — materialized ONCE: the
    // unrolled fixpoint references the edge list `iters` times, and
    // without a materialization point each iteration re-derives the
    // whole corpus bigram extraction (measured: 23 scans / 92 exchanges
    // in the 5-iteration plan). The edge list is vocabulary-sized
    // (minCount-pruned), orders smaller than the corpus; blocks are
    // reclaimed by the context cleaner when the frame is collected.
    val ed = edges.join(deg, "a").localCheckpoint()
    val S = 1000000000L
    val base = (S * 15L) / 100L
    val pr0 = deg.select(col("a").as("w"), lit(S).as("pr"))
    val prN = (1 to iters).foldLeft(pr0) { (pr, _) =>
      ed.join(pr, col("a") === col("w"))
        .groupBy(col("b"))
        .agg((lit(base) +
          sum(expr(s"(pr * 85L) div (100L * d)"))).as("pr"))
        .select(col("b").as("w"), col("pr"))
    }
    prN.orderBy(col("pr").desc, col("w")).limit(k)
  }

  def lmScore(df: DataFrame, idCol: String, textCol: String,
              scale: Long = 1000000000L): DataFrame = {
    // NOT spread (measured): the isolated `Profile stages` run favored a
    // pre-explode spread, but the bench (min-of-3, suite context) read
    // it 0.26 s SLOWER — the bigram aggregate's own exchange already
    // parallelizes the downstream joins, so the extra shuffle only
    // moves the serial explode earlier
    val words = df.select(col(idCol), expr(Text.wordsExpr(textCol)).as("__ws"))
    // same slice-zip bigram shape as collocations (see that scaladoc for
    // why not element_at-in-lambda); greatest(...,0) guards 0-word docs
    val bi = words.select(col(idCol), explode(expr(
        "transform(slice(__ws, 1, greatest(size(__ws) - 1, 0)), " +
          "(w, i) -> struct(w AS a, __ws[i + 1] AS b))")).as("p"))
      .select(col(idCol), col("p.a").as("a"), col("p.b").as("b"))
    val db = bi.groupBy(col(idCol), col("a"), col("b"))
      .agg(count(lit(1)).as("k"))
    val cab = db.groupBy("a", "b").agg(sum(col("k")).as("c_ab"))
    val ca = db.groupBy("a").agg(sum(col("k")).as("c_a"))
    db.join(cab, Seq("a", "b")).join(ca, Seq("a"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        (sum(col("k") * expr(s"((c_ab * ${scale}L) div c_a)")).cast("double") /
          sum(col("k"))).as("lm_score"))
  }

  /** Sparse TF-IDF cosine similarity join: each document is signed by
    * its top-`k` TF-IDF terms (integer weights w = tf·N·`scale` div df,
    * the topTerms log-free discipline) and pairs scoring cosine ≥
    * `minSim` over those sparse signatures surface — semantic near-dup
    * candidates through an INVERTED INDEX (self-join on the term), the
    * sparse counterpart to qs02's dense-embedding join. Capping vectors
    * at k terms is what bounds the index: a term's posting list only
    * holds docs that rank it top-k, so stopwords (high df → low w)
    * vanish from the index instead of generating df² candidate pairs.
    *
    * Exactness: weights, dot products and squared norms are all Longs
    * (≤ k products of two ≤ tf·N·scale values — far under 2⁶³ here;
    * shrink `scale` past ~10⁸ docs), norms go sqrt(double) which is
    * IEEE-correctly-rounded, and the oracle hops its HUGEINT sums
    * through STRING so both engines round the identical integer.
    *
    * Cost model: EXACT over the candidate set, so work grows with pair
    * density — a near-dup cluster of m copies shares signature terms
    * and contributes O(m²) candidates (measured: 4× near-dup copies at
    * sf1 → ~16× the join, the qd02/qs02 growth law). The top-k cap
    * bounds the per-TERM posting list, not cluster quadratics; compose
    * exact dedup first (the qp01 discipline) or use minhash banding
    * (qd05) when clusters are large. On a corpus whose VOCABULARY is
    * degenerate the signatures themselves collide: the synthetic gate
    * corpus draws from ~31 template words at sf0.1, so every top-5
    * term is popular and the join sees ~22M candidates (~8 s) — a
    * real corpus's top TF-IDF terms are rare by construction. A
    * signature-df exclusion (the winnowNearDupPairs maxDf move) is NOT
    * applied because on such a corpus it would empty the index rather
    * than trim it. [[sparseCosinePairsPrefix]] is the scale path:
    * identical output (shared oracle, qs16) through prefix-filtered
    * candidate generation that structurally suppresses hot-term
    * fan-out — this exact formulation stays as the oracle-simple
    * correctness baseline, the qd02→qd09 relationship.
    */
  def sparseCosinePairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 5, scale: Long = 10L,
                        minSim: Double = 0.95): DataFrame = {
    val top = sparseTopK(df, idCol, textCol, k, scale).drop("__df")
    val nrm = top.groupBy("__doc")
      .agg(sqrt(sum(col("__wv") * col("__wv")).cast("double")).as("__nrm"))
    val a = top.select(col("__doc").as("doc_a"), col("__w"),
      col("__wv").as("__wa"))
    val b = top.select(col("__doc").as("doc_b"), col("__w"),
      col("__wv").as("__wb"))
    a.join(b, Seq("__w")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("__wa") * col("__wb")).as("__dot"))
      .join(nrm.select(col("__doc").as("doc_a"), col("__nrm").as("__na")), "doc_a")
      .join(nrm.select(col("__doc").as("doc_b"), col("__nrm").as("__nb")), "doc_b")
      .withColumn("sim",
        col("__dot").cast("double") / (col("__na") * col("__nb")))
      .filter(col("sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("sim"))
  }

  /** Top-`k` integer TF-IDF signature per document, one row per kept
    * term: (__doc, __w, __wv, __df) — shared by the exact inverted-
    * index pair join ([[sparseCosinePairs]]) and the prefix-filtered
    * formulation ([[sparseCosinePairsPrefix]]). localCheckpointed
    * because every consumer re-reads it from several plan branches.
    */
  private def sparseTopK(df: DataFrame, idCol: String, textCol: String,
                         k: Int, scale: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread the raw text BEFORE the explode: a small corpus file is one
    // scan partition, and the word explode + per-doc aggregation would
    // otherwise run serially (and re-run per consumer of the shared
    // subtree) on a single task — the text shuffle is cheap, the
    // parallelism it buys is the whole downstream pipeline's. The count
    // must be EXPLICIT: a keyed repartition with no count is
    // AQE-coalesced back to one partition on a small input, and the
    // signature checkpoint below then pins ONE partition — Profile stages
    // measured the entire qs16 pair pipeline (sig sort, prefix explode,
    // candidate join, verify) as a single 5.5 s task behind it.
    // defaultParallelism tracks the session's cores on any deployment.
    val tf = df.select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol), explode(expr(Text.wordsExpr(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__w").agg(count(lit(1)).as("__df"))
    val nDocs = df.agg(count(lit(1)).as("__n"))
    // loud in-plan overflow guard (the degenerate-bucket precedent):
    // the k-term dot and squared norm must fit a Long, so every weight
    // must stay under sqrt(Long.Max / k) — past that (≈10⁸ docs at this
    // scale) the sums would silently wrap where the oracle's HUGEINT
    // would not. Fail the query, naming the remedy, instead.
    val maxW = math.sqrt(Long.MaxValue.toDouble / k).toLong - 1
    // the numerator check must come FIRST: a wrapped tf·N·scale can
    // land back in [0, maxW] and slip through a weight-only bound
    val numOk = col("__tf") <= lit(Long.MaxValue / scale) / col("__n")
    val wt = tf.join(dfreq, "__w").crossJoin(broadcast(nDocs))
      .withColumn("__wv", expr(s"(__tf * __n * ${scale}L) div __df"))
      .withColumn("__guard", assert_true(numOk && col("__wv") <= maxW,
        lit(s"TF-IDF weight exceeds the Long-exact bound $maxW: " +
          "shrink `scale` for this corpus size")))
      .filter(col("__guard").isNull) // NULL on success; keeps the assert alive
      .drop("__guard")
    // k rows per doc — materialized once (localCheckpoint) because the
    // norm aggregate and BOTH sides of the pair join re-read it; without
    // the cut each consumer re-derives the corpus tokenize + weight
    // pipeline (measured: 15 scans in the plan, ~2× the upstream cost)
    wt.withColumn("__rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__wv").desc, col("__w"))))
      .filter(col("__rn") <= k)
      .select(col(idCol).as("__doc"), col("__w"), col("__wv"), col("__df"))
      .localCheckpoint()
  }

  /** [[sparseCosinePairs]] with PREFIX-FILTERED candidate generation —
    * the scale path beside the exact inverted index, with IDENTICAL
    * output (gate-proved: qs16 shares qs12's oracle), the qd02→qd09
    * relationship replayed for sparse cosine.
    *
    * The exact formulation indexes ALL k signature terms, so one
    * corpus-hot term fans out quadratically in its posting list (the
    * suite's slowest query: ~9 s at sf0.1, ~168 s at sf1 on the
    * template-vocabulary gate corpus). This formulation indexes only
    * each document's PREFIX under one global term order, and the
    * prefix-filter lemma transfers from Jaccard to cosine through a
    * mass argument:
    *
    *   By Cauchy–Schwarz over the SHARED terms S of a qualifying pair,
    *   cos(a,b) ≤ √(fa·fb) where fx = (Σ_S wx²)/‖x‖² is the fraction
    *   of x's squared mass on S — so cos ≥ t forces fa ≥ t² AND
    *   fb ≥ t². Sort each signature by one GLOBAL order (ascending
    *   document frequency, ties by term — the qd09 canonical order)
    *   and call prefix the positions i whose tail mass Σ_{j≥i} w_j²
    *   is still ≥ t²·‖x‖². Let s* be the globally smallest shared
    *   term: if s* sat past a's prefix, every shared term would (they
    *   are all ≥ s* in the global order, and a's signature is sorted
    *   by it), putting all of S in a tail with < t² of a's mass —
    *   contradicting fa ≥ t². So s* lies in BOTH prefixes, and the
    *   equi-join of prefix postings catches every qualifying pair;
    *   candidates then get the full exact dot/norm verify. The t²
    *   threshold is applied as floor(t²·10⁶)/10⁶ through DECIMAL
    *   compares, which can only WIDEN a prefix — never drop a pair.
    *
    * Scale shape: at t = 0.95 the tail-mass rule keeps ~1 of 5 terms
    * (a term enters the prefix only while the mass behind it is under
    * 9.75%), so posting lists shrink ~5× and the candidate join ~25×
    * before verification. Hot-term fan-out is structurally suppressed
    * twice: ascending-df order pushes corpus-hot terms to signature
    * TAILS (out of the prefix unless one term carries ≥ t² of the
    * doc's mass), and TF-IDF gives hot terms low weight, making that
    * concentration doubly rare. Pair-density law: like qd09, work is
    * O(qualifying pairs + prefix collisions), not O(posting-list²) —
    * near-dup clusters of m docs still cost O(m²) VERIFIED pairs
    * (they are real output), which is the floor any exact join pays.
    * Measured on the degenerate-vocabulary gate corpus (identical
    * harness, identical output): sf0.1 end-to-end drops ~8.6 s of the
    * exact path's 9.1 s (the candidate join was the cost; the shared
    * signature build is what remains); at sf1 the exact join runs
    * ~168 s alone while the whole prefix run finishes inside 40 s of
    * JVM+tokenize+query wall — the gap grows with corpus size.
    */
  def sparseCosinePairsPrefix(df: DataFrame, idCol: String, textCol: String,
                              k: Int = 5, scale: Long = 10L,
                              minSim: Double = 0.95): DataFrame = {
    val top = sparseTopK(df, idCol, textCol, k, scale)
    val nrm = top.groupBy("__doc")
      .agg(sqrt(sum(col("__wv") * col("__wv")).cast("double")).as("__nrm"))
    // per-doc signature sorted by the global (df, term) order; squared
    // weights and tail sums are row-local Longs (the sparseTopK guard
    // bounds Σ wv² under 2⁶³), only the t² compare needs DECIMAL width
    val t2f = math.floor(minSim * minSim * 1e6).toLong
    val sig = top.groupBy(col("__doc"))
      .agg(array_sort(collect_list(
        struct(col("__df"), col("__w"), col("__wv")))).as("__sig"))
      .withColumn("__sq",
        expr("transform(__sig, s -> s.__wv * s.__wv)"))
      .withColumn("__tot",
        expr("aggregate(__sq, CAST(0 AS BIGINT), (a, x) -> a + x)"))
    val pref = sig.select(col("__doc"), explode(expr(
      s"""filter(transform(sequence(1, size(__sig)), i ->
         |  IF(CAST(aggregate(slice(__sq, i, size(__sq) - i + 1),
         |        CAST(0 AS BIGINT), (a, x) -> a + x) AS DECIMAL(38,0))
         |       * 1000000 >= CAST(__tot AS DECIMAL(38,0)) * ${t2f}L,
         |     __sig[i-1].__w, NULL)),
         |  x -> x IS NOT NULL)""".stripMargin)).as("__w"))
    // the explicit pair-keyed repartition pins the dedup AND the
    // downstream verify joins at session parallelism: candidate pairs
    // are BYTE-small (two longs) but COMPUTE-dense downstream (k-term
    // intersections per pair), so AQE's byte-based coalescing folds
    // them into one partition and Profile stages measured the whole verify
    // as a single 4.6 s task; distinct reuses this partitioning, so no
    // exchange is added — one is re-keyed
    val cand = pref.as("a")
      .join(pref.as("b"),
        col("a.__w") === col("b.__w") && col("a.__doc") < col("b.__doc"))
      .select(col("a.__doc").as("doc_a"), col("b.__doc").as("doc_b"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
      .distinct()
    val a = top.select(col("__doc").as("doc_a"), col("__w"),
      col("__wv").as("__wa"))
    val b = top.select(col("__doc").as("doc_b"), col("__w"),
      col("__wv").as("__wb"))
    cand.join(a, "doc_a").join(b, Seq("doc_b", "__w"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(col("__wa") * col("__wb")).as("__dot"))
      .join(nrm.select(col("__doc").as("doc_a"), col("__nrm").as("__na")), "doc_a")
      .join(nrm.select(col("__doc").as("doc_b"), col("__nrm").as("__nb")), "doc_b")
      .withColumn("sim",
        col("__dot").cast("double") / (col("__na") * col("__nb")))
      .filter(col("sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("sim"))
  }

  /** Tokenizer fertility by language — the tokenizer-evaluation metric
    * "how many subword tokens does one word cost, per language?": a
    * tokenizer trained on English text typically over-segments other
    * languages, and fertility (Σ subword tokens / Σ words, grouped by
    * predicted language) is where that shows up. Composes
    * [[languageId]] with [[tokenCounts]]; the ratio is one IEEE
    * division of exact integer sums. A group whose documents all
    * tokenize to zero words reports fertility 0.0 (explicit guard, the
    * noveltyRate discipline) — an unguarded 0/0 would be NULL in Spark
    * but engine-defined elsewhere, a latent cross-engine divergence.
    *
    * Scale: two linear per-document passes joined on the id, then a
    * group-by on ≤ |languages| keys with map-side combine.
    */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String,
                         groupCols: Seq[String] = Nil): DataFrame = {
    val base = languageId(df, idCol, textCol)
      .select(col(idCol), col("predicted_lang"))
      .join(tokenCounts(df, idCol, textCol), Seq(idCol))
    val grouped =
      if (groupCols.isEmpty) base
      else base.join(df.select((idCol +: groupCols).map(col): _*), Seq(idCol))
    grouped
      .groupBy((groupCols :+ "predicted_lang").map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_tokens"),
        sum(col("bpe_tokens")).as("bpe_tokens"))
      .withColumn("fertility",
        when(col("ws_tokens") === 0L, lit(0.0))
          .otherwise(
            col("bpe_tokens").cast(DoubleType) / col("ws_tokens").cast(DoubleType)))
  }

  /** Vocabulary coverage curve — the tokenizer-design question "how
    * much of the corpus do the N most frequent words cover?", answered
    * for each requested N.
    *
    * Output per N: (n, covered, total, coverage) — `covered` = token
    * occurrences of the top-N words (frequency desc, word asc tie
    * break), `coverage` = covered / total (one exact IEEE division).
    * N larger than the vocabulary clamps to full coverage.
    *
    * Scale: word counts are one linear aggregate with map-side
    * combine; the top-N cut is TakeOrderedAndProject (per-partition
    * heaps bounded by max(ns), never a vocabulary sort), and the rank
    * window runs over the ≤ max(ns) surviving rows (limit-bounded
    * single-partition window, the rankTopK discipline).
    */
  def vocabCoverage(df: DataFrame, textCol: String, ns: Seq[Int]): DataFrame = {
    require(ns.nonEmpty, "vocabCoverage needs at least one N")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.select(explode(expr(Text.wordsExpr(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    val top = counts.orderBy(col("cnt").desc, col("word")).limit(ns.max)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("cnt").desc, col("word")))
          .cast(LongType))
    ns.map(_.toLong).toDF("n")
      .join(top, col("rnk") <= col("n"))
      .groupBy("n").agg(sum(col("cnt")).as("covered"))
      .crossJoin(total)
      .select(col("n"), col("covered"), col("total"),
        (col("covered").cast(DoubleType) / col("total").cast(DoubleType))
          .as("coverage"))
  }
}
