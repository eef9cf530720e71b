package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID (stopword heuristic), quality scoring, token counting,
  * document fingerprinting. All pure codegen'd projections — at 100 TB
  * these run as map-only stages over the parquet scan with the text
  * column pruned-in and nothing else.
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: letter runs, single digits, single
    * punctuation marks each count as one token (regex kept RE2-safe so
    * external engines can reproduce it).
    */
  val BpeishPattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Tiny per-language stopword lists for the n-gram/stopword
    * language-ID heuristic. Deterministic, dependency-free.
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "de" -> Seq("der", "die", "das", "und", "zu", "den", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "un", "une", "est", "que"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "zai", "you", "he"))

  /** Languages in deterministic priority order for argmax tie-breaks. */
  val Langs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  def stopwordHits(text: Column, lang: String): Column =
    size(filter(tokens(text), t => t.isin(Stopwords(lang): _*)))

  /** Language with the most stopword hits; ties -> first in `Langs`
    * order; zero hits everywhere -> "unknown".
    */
  def langId(text: Column): Column = {
    // deterministic argmax: first language (in Langs order) whose score
    // equals the row max; all-zero -> "unknown"
    val maxScore = greatest(Langs.map(l => stopwordHits(text, l)): _*)
    Langs.reverse.foldLeft(lit("unknown")) { case (acc, l) =>
      when(stopwordHits(text, l) === maxScore && maxScore > 0, lit(l))
        .otherwise(acc)
    }
  }

  /** Quality-score components + composite
    * (length / punctuation ratio / stopword ratio / mean token length).
    * Every arithmetic step is fixed-order IEEE so external engines can
    * reproduce it bit-for-bit.
    */
  def qualityExprs(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val nTok = tokenCount(text).cast("double")
    val punct = size(regexp_extract_all(text,
      lit("[^a-zA-Z0-9 ]"), lit(0))).cast("double")
    val stops = Langs.map(l => stopwordHits(text, l))
      .reduce(_ + _).cast("double")
    val punctRatio = punct / nChars
    val stopRatio = stops / nTok
    val meanTokLen = (nChars - (nTok - lit(1.0))) / nTok
    val lengthScore = least(nChars / lit(500.0), lit(1.0))
    val composite = lit(0.4) * lengthScore +
      lit(0.3) * least(stopRatio * lit(5.0), lit(1.0)) +
      lit(0.2) * least(meanTokLen / lit(8.0), lit(1.0)) +
      lit(0.1) * (lit(1.0) - least(punctRatio * lit(10.0), lit(1.0)))
    Seq(
      "n_chars_q" -> nChars,
      "n_tokens" -> nTok,
      "punct_ratio" -> punctRatio,
      "stopword_ratio" -> stopRatio,
      "mean_token_len" -> meanTokLen,
      "quality" -> composite)
  }

  /** ALL per-document text signals in ONE per-partition kernel pass
    * (round 6): whitespace/BPE-ish token counts, stopword language ID
    * and the quality components — appended as `__ts_*` columns. The
    * Column formulations above remain the semantic spec; this kernel
    * computes the identical values (same token split, same ASCII
    * char classes, same fixed-order IEEE chain for the composite) in
    * one text traversal. Motivation (guide §4.4/§1.2): the per-lang
    * `stopwordHits` higher-order filters are interpreted and excluded
    * from codegen subexpression elimination, so a query touching
    * langId + quality + a filter on both re-split and re-scanned each
    * text 15-25x (filter pushdown through the projection duplicates
    * the whole tree again); the kernel pays ONE split and two scans
    * per document, and being opaque it also stops the optimizer from
    * duplicating it below pushed filters.
    */
  def withTextSignals(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val sigFields = Seq(
      StructField("__ts_ws_tokens", IntegerType, nullable = true),
      StructField("__ts_bpeish_tokens", IntegerType, nullable = true),
      StructField("__ts_lang_pred", StringType, nullable = true),
      StructField("__ts_n_chars_q", DoubleType, nullable = true),
      StructField("__ts_n_tokens", DoubleType, nullable = true),
      StructField("__ts_punct_ratio", DoubleType, nullable = true),
      StructField("__ts_stopword_ratio", DoubleType, nullable = true),
      StructField("__ts_mean_token_len", DoubleType, nullable = true),
      StructField("__ts_quality", DoubleType, nullable = true))
    val ti = df.schema.fieldIndex(textCol)
    val stopSets: Array[Set[String]] =
      Langs.map(l => Stopwords(l).toSet).toArray
    val langsArr: Array[String] = Langs.toArray
    val nullSig: Seq[Any] =
      Seq(null, null, "unknown", null, null, null, null, null, null)
    graft.core.Kernel.append(df, df.schema.fields.indices, sigFields) {
      () => r =>
        val text = if (r.isNullAt(ti)) null else r.getString(ti)
        if (text == null) nullSig
        else {
          val toks = text.split(" ", -1)
          val counts = new Array[Int](langsArr.length)
          var i = 0
          while (i < toks.length) {
            val t = toks(i)
            var l = 0
            while (l < langsArr.length) {
              if (stopSets(l).contains(t)) counts(l) += 1
              l += 1
            }
            i += 1
          }
          var maxC = 0
          var stops = 0L
          var l = 0
          while (l < counts.length) {
            if (counts(l) > maxC) maxC = counts(l)
            stops += counts(l); l += 1
          }
          // argmax ties -> first language in Langs order; all-zero
          // -> unknown (the langId fold's rule)
          val lang =
            if (maxC == 0) "unknown"
            else langsArr(counts.indexWhere(_ == maxC))
          // one char scan for BOTH regex counts: BpeishPattern
          // ([a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]) and the punctuation
          // class ([^a-zA-Z0-9 ]) are exact ASCII classes
          var punct = 0
          var bpeish = 0
          var ci = 0
          val n = text.length
          while (ci < n) {
            val c = text.charAt(ci)
            val isL = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
            if (isL) {
              bpeish += 1; ci += 1
              while (ci < n && {
                val d = text.charAt(ci)
                (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z')
              }) ci += 1
            } else {
              if (c >= '0' && c <= '9') bpeish += 1
              else if (c != ' ') { bpeish += 1; punct += 1 }
              ci += 1
            }
          }
          // the exact expression chain of qualityExprs, in the same
          // association order (length() counts code points)
          val nChars = text.codePointCount(0, n).toDouble
          val nTok = toks.length.toDouble
          val punctRatio = punct.toDouble / nChars
          val stopRatio = stops.toDouble / nTok
          val meanTokLen = (nChars - (nTok - 1.0)) / nTok
          val lengthScore = math.min(nChars / 500.0, 1.0)
          val quality = 0.4 * lengthScore +
            0.3 * math.min(stopRatio * 5.0, 1.0) +
            0.2 * math.min(meanTokLen / 8.0, 1.0) +
            0.1 * (1.0 - math.min(punctRatio * 10.0, 1.0))
          Seq(toks.length, bpeish, lang, nChars, nTok, punctRatio,
            stopRatio, meanTokLen, quality)
        }
    }
  }

  /** Content fingerprint: md5 of the whitespace-normalised lowercased
    * text (stable across engines), plus a 64-bit xxhash64 variant for
    * cheap joins/sharding.
    */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(text), lit(" +"), lit(" ")))

  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(text), lit(" +"), lit(" ")))

  /** Winnowing document fingerprints (the MOSS local-fingerprinting
    * algorithm, Schleimer/Wilkerson/Aiken SIGMOD'03): hash every
    * k-char gram with a base-131 polynomial rolling hash, then keep
    * the MINIMUM hash of each window of `w` consecutive grams. Any
    * shared substring of length >= k + w - 1 between two documents is
    * guaranteed to share a fingerprint — the basis for plagiarism /
    * near-dup detection that survives local edits.
    *
    * Computed by a PER-PARTITION JVM KERNEL (round 6): gram hashes,
    * the per-window minima and the per-document fingerprint dedup all
    * run in one tight loop inside each document's scan task — the op
    * is a MAP-ONLY projection with ZERO exchanges (the previous shape
    * posexploded every CHARACTER to a row, shuffled them into a
    * per-doc window, and deduped with a global distinct; distinct
    * (doc_id, fp) pairs dedup entirely within a document, so the
    * kernel's per-doc hash set already yields the distinct output).
    * At 100 TB this is a pure map pass over the corpus scan.
    *
    * The hash is exact int64 arithmetic reproducible in any engine:
    * codes are `ascii(char) % 512` so the largest possible sum
    * `511 * sum(131^j, j<8) ~ 3.4e17` stays far from int64 overflow —
    * no modular reduction step that external SQL engines lack.
    * Output: distinct `(doc_id, fp)` rows.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    // k caps at 8: the polynomial's max sum 511 * sum(131^j, j<8) is
    // ~3.4e17 (safe); at k=9 it exceeds Long.MaxValue — ANSI mode
    // would kill the scan with ARITHMETIC_OVERFLOW, and at k>=10 the
    // power table itself wraps negative, silently breaking the
    // "reproducible in any engine" contract
    require(k >= 2 && k <= 8 && w >= 1,
      s"need 2 <= k <= 8 (int64 overflow above), w >= 1, got k=$k w=$w")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // base-131 polynomial over the k chars starting at each position;
    // codes are codepoint % 512, matching the relational
    // ascii(char) % 512 formulation this kernel replaced (the q61/q94
    // oracles replay the identical integer arithmetic)
    val pows: Array[Long] =
      Iterator.iterate(1L)(_ * 131L).take(k).toArray.reverse
    val in = df.select(col(idCol), col(textCol).cast("string"))
    val idf = in.schema.head
    val schema = StructType(Seq(
      StructField("doc_id", idf.dataType, idf.nullable),
      StructField("fp", LongType, nullable = false)))
    val (kk, ww) = (k, w)
    graft.core.Kernel.map(in, schema) { it =>
      it.flatMap { r =>
        val text = if (r.isNullAt(1)) null else r.getString(1)
        if (text == null || text.length < kk) Iterator.empty
        else {
          val nG = text.length - kk + 1
          val grams = new Array[Long](nG)
          var p = 0
          while (p < nG) {
            var h = 0L
            var j = 0
            while (j < kk) {
              h += (text.codePointAt(p + j) % 512).toLong * pows(j)
              j += 1
            }
            grams(p) = h; p += 1
          }
          if (nG < ww) Iterator.empty
          else {
            val id = r.get(0)
            val seen = new java.util.HashSet[java.lang.Long]
            val out = Vector.newBuilder[Row]
            var s = 0
            while (s <= nG - ww) {
              var m = grams(s)
              var j = 1
              while (j < ww) {
                if (grams(s + j) < m) m = grams(s + j)
                j += 1
              }
              if (seen.add(m)) out += Row(id, m)
              s += 1
            }
            out.result().iterator
          }
        }
      }
    }
  }

  /** Benchmark decontamination: which corpus documents share local
    * substring fingerprints with an evaluation set? Both sides run
    * [[winnowFingerprints]] (MOSS winnowing: any shared substring of
    * length >= k + w - 1 GUARANTEES a shared fingerprint — no missed
    * contamination above that length), the tiny (id, fp) tables join
    * on the fingerprint, and pairs with >= `minShared` hits are
    * flagged. Scale shape: the corpus-side cost is one fingerprint
    * pass; the join carries int64 fingerprints, never text; the eval
    * set is benchmark-sized, so its side broadcasts.
    */
  def contamination(corpus: DataFrame, testSet: DataFrame,
      idCol: String, textCol: String, k: Int = 8, w: Int = 4,
      minShared: Long = 1L): DataFrame =
    contaminationWithFps(corpus,
      winnowFingerprints(testSet, idCol, textCol, k, w)
        .withColumnRenamed("doc_id", "test_id"),
      idCol, textCol, k, w, minShared)

  /** [[contamination]] against PRE-COMPUTED eval fingerprints
    * `(test_id, fp)` — for repeated checks (e.g. the streaming gate,
    * which would otherwise re-fingerprint the unchanged eval set
    * every micro-batch: cache `winnowFingerprints(testSet)` once).
    */
  def contaminationWithFps(corpus: DataFrame, testFps: DataFrame,
      idCol: String, textCol: String, k: Int = 8, w: Int = 4,
      minShared: Long = 1L): DataFrame = {
    val c = winnowFingerprints(corpus, idCol, textCol, k, w)
      .withColumnRenamed("doc_id", "corpus_id")
    c.join(testFps, Seq("fp"))
      .groupBy(col("corpus_id"), col("test_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** [[contaminationWithFps]] with a BLOOM pre-filter on the corpus
    * side — same output, different scale shape. The plain path ships
    * EVERY corpus fingerprint into the join (even broadcast-joined,
    * that's a probe per fingerprint into a full hash relation); here a
    * bloom filter over the eval fingerprints (built by one distributed
    * aggregation, a few bits per key — ~12 MB for 10M fps at 1% fpp,
    * broadcast-able when the eval set itself no longer is) runs INSIDE
    * the corpus fingerprint scan via the codegen'd
    * [[graft.functions.BloomMightContainQ]], so only fingerprints that
    * POSSIBLY match (true hits + fpp noise) reach the join at all.
    * No false negatives by construction, false positives die in the
    * exact join — the result is IDENTICAL to [[contaminationWithFps]]
    * (spec-asserted, and q112 shares q94's value-exact oracle shape).
    */
  def contaminationBloom(corpus: DataFrame, testFps: DataFrame,
      idCol: String, textCol: String, k: Int = 8, w: Int = 4,
      minShared: Long = 1L, fpp: Double = 0.01): DataFrame = {
    // bounded driver actions: the eval-set size, then the sketch
    // itself (one treeAggregate; the filter is bits-per-key small).
    // Empty eval set: nothing can be contaminated — and Spark's
    // stat.bloomFilter NPEs on an empty frame — so short-circuit to
    // the (empty) exact-path result with the right schema
    val nFps = testFps.count()
    if (nFps == 0L)
      return contaminationWithFps(corpus.limit(0), testFps, idCol,
        textCol, k, w, minShared)
    val bloom = testFps.stat.bloomFilter("fp", nFps, fpp)
    val c = winnowFingerprints(corpus, idCol, textCol, k, w)
      .withColumnRenamed("doc_id", "corpus_id")
      .filter(graft.functions.BloomMightContainQ
        .mightContainLong(bloom, col("fp")))
    c.join(testFps, Seq("fp"))
      .groupBy(col("corpus_id"), col("test_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Within-document repetition scores (Gopher-style quality rules):
    *  - `dup_word_ratio`: fraction of tokens that are repeats of an
    *    earlier token (1 - distinct/total), a pure projection;
    *  - `top_bigram_ratio`: the most frequent bigram's share of all
    *    bigrams — boilerplate and generated spam push it toward 1.
    * One shingle pass + a per-doc max_by aggregation; short docs
    * (< 2 tokens) get a 0 bigram ratio.
    */
  def repetitionScores(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = tokens(col(textCol))
    val base = df.select(col(idCol),
      (lit(1.0) - size(array_distinct(toks)).cast("double") /
        size(toks)).as("dup_word_ratio"))
    val grams = graft.dedup.Dedup
      .shingleRowsOf(df, idCol, textCol, 2)
    val top = grams.groupBy(col("__id"), col("__s"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("__id"))
      .agg((max(col("n")).cast("double") / sum(col("n")))
        .as("top_bigram_ratio"))
    base.join(top, base(idCol) === top("__id"), "left")
      .select(col(idCol), col("dup_word_ratio"),
        coalesce(col("top_bigram_ratio"), lit(0.0))
          .as("top_bigram_ratio"))
  }

  /** Corpus vocabulary with DENSE frequency-ranked ids:
    * `(term, count, id)` where id = 0 for the most frequent term,
    * ordered by (count desc, term asc) — the tokenizer-building step
    * of an NLP pipeline.
    *
    * The obvious formulation — `row_number() OVER (ORDER BY count
    * DESC)` — is a SINGLE-PARTITION window: the whole vocabulary
    * funnels through one task. Here the global rank is a two-phase
    * range-partitioned exclusive count, the same shape as
    * [[graft.text.Sharding.exclusiveCumSums]]: repartitionByRange on
    * the sort key, per-partition term counts (one |partitions|-row
    * collect) become broadcast rank offsets, and a per-partition
    * window hands out local ranks. Scale-safe at any vocabulary size;
    * plan-asserted single-partition-free.
    */
  def vocabulary(df: DataFrame, textCol: String, minCount: Long = 1L)
      : DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("count"))
      .filter(col("count") >= minCount)
    // dense rank = exclusive cumulative count of ones in the target
    // order — the shared two-phase machinery does the rest
    Sharding.exclusiveCumSums(counts, Seq(col("count").desc, col("term")),
      Seq(lit(1L) -> "id"))(graft.core.Materialize.truncate(_, eager = true))
  }

  /** VOCABULARY GROWTH curve (Heaps-law audit) — how many tokens
    * appear for the FIRST time in each `bucketSize`-document slice of
    * the corpus order: the saturation signal a curation pass reads
    * before deciding more data still buys new language ("the last
    * million docs contributed 0.1% new vocabulary — stop crawling
    * this source"). Token grid = the same whitespace split as
    * [[vocabulary]]; first sighting = exact MIN(doc id); bucket =
    * integer `div` (2^53-safe). Output: one row per bucket that
    * introduced anything — `bucket`, `n_new_tokens`.
    *
    * Scale shape: one (token) min-agg (map-side combined) and one
    * |buckets|-row count — never a sort, never a window.
    */
  def vocabularyGrowth(df: DataFrame, idCol: String, textCol: String,
      bucketSize: Long): DataFrame = {
    require(bucketSize >= 1, s"bucketSize >= 1, got $bucketSize")
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("__t")).agg(min(col("__id")).as("__first"))
      .groupBy(expr(s"__first div ${bucketSize}L").as("bucket"))
      .agg(count(lit(1)).as("n_new_tokens"))
  }

  /** TEMPLATE GROUPS — documents that are token PERMUTATIONS of one
    * another (slot-filled boilerplate, shuffled spam variants): the
    * signature is md5 of the space-joined SORTED token multiset, so
    * word order vanishes but counts matter ("a a b" ≠ "a b b").
    * Output: one row per group with ≥ 2 members — `template_sig`,
    * exact `n_docs`, `min_doc_id` (the canonical representative) —
    * top-k by size (ties → smaller sig). The exact-dup detector
    * misses these (different byte strings); MinHash blurs them into
    * near-dups; this names them precisely.
    *
    * Scale shape: one projection (sort + hash per doc), one
    * |groups|-row count, a takeOrdered k. Never a pair join.
    */
  def templateGroups(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"templateGroups: k >= 1, got $k")
    df.filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"),
        md5(concat_ws(" ", sort_array(tokens(col(textCol)))))
          .as("template_sig"))
      .groupBy(col("template_sig"))
      .agg(count(lit(1)).as("n_docs"), min(col("__id")).as("min_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("template_sig").asc)
      .limit(k)
  }

  /** TOP-K TOKEN-PAIR PMI — which tokens co-occur in documents far
    * beyond chance: pointwise mutual information
    * `ln(n_ab · N / (n_a · n_b))` over per-document DISTINCT token
    * pairs, restricted to tokens with document frequency in
    * `[minDf, maxDf]` (the same DF pruning as the q143 containment
    * index — hapaxes carry no statistics, boilerplate tokens would
    * quadratically explode the pair join). Output: the k most
    * frequent pairs (`tok_a < tok_b`, ties lexicographic) with
    * exact `n_ab` and the PMI readout.
    *
    * Scale shape: pair join confined to documents' PRUNED token
    * sets (each doc contributes ≤ |kept|² pairs with |kept| bounded
    * by maxDf pruning), one (pair) count, a takeOrdered k — never
    * a corpus-wide cross join. N is a bounded 1-register collect.
    */
  def tokenPmi(df: DataFrame, idCol: String, textCol: String,
      minDf: Long, maxDf: Long, k: Int): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf && k >= 1,
      s"tokenPmi: need 1 <= minDf <= maxDf and k >= 1")
    val pt = df
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__doc"),
        explode(tokens(col(textCol))).as("__tok"))
      .distinct()
    val nDocs = pt.select(count_distinct(col("__doc"))).head().getLong(0)
    val dfc = pt.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= minDf && col("__c") <= maxDf)
    val kept = pt.join(dfc, Seq("__tok"))
    val a = kept.select(col("__doc"), col("__tok").as("tok_a"),
      col("__c").as("__ca"))
    val b = kept.select(col("__doc"), col("__tok").as("tok_b"),
      col("__c").as("__cb"))
    a.join(b, Seq("__doc"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_ab"),
        max(col("__ca")).as("__na"), max(col("__cb")).as("__nb"))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        log(col("n_ab").cast("double") * lit(nDocs.toDouble) /
          (col("__na").cast("double") * col("__nb").cast("double")))
          .as("pmi"))
      .orderBy(col("n_ab").desc, col("tok_a").asc,
        col("tok_b").asc)
      .limit(k)
  }

  /** One-row corpus report card — the per-snapshot data-quality
    * summary: document and token volume, language spread (count +
    * Shannon entropy of the language distribution), and the exact
    * duplicate-text rate. Two tiny aggregations (language histogram +
    * global counters) over one corpus scan each; every figure is
    * engine-reproducible (q102).
    */
  def corpusReport(df: DataFrame, textCol: String, langCol: String)
      : DataFrame = {
    val langs = df.groupBy(col(langCol)).agg(count(lit(1)).as("n"))
    // n_langs rides the histogram agg for free; keeping it out of the
    // corpus-side agg leaves that with ONE distinct aggregate (text),
    // so no 3-way Expand multiplies the main scan
    val langSide = langs
      .agg(sum(col("n")).as("tot"),
        sum(col("n").cast("double") *
          log(col("n").cast("double"))).as("nl"),
        count(lit(1)).as("n_langs"))
      .select(col("n_langs"),
        // H = ln(tot) - sum(n ln n)/tot (exact rearrangement — one
        // pass, no per-row p = n/tot division)
        (log(col("tot").cast("double")) - col("nl") / col("tot"))
          .as("lang_entropy"))
    val base = df.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("total_tokens"),
      // nullif-guarded: an empty corpus reports a null rate instead
      // of an ANSI divide-by-zero. Distinct over md5(text), NOT the
      // raw text: the distinct aggregation's exchange then carries
      // 16-byte digests instead of whole documents — at corpus scale
      // that is the one heavy shuffle in an otherwise metadata-sized
      // report. md5 is oracle-reproducible; collision risk ~n^2/2^128
      // is negligible and accepted. The denominator counts NON-NULL
      // texts (countDistinct skips the null md5, so dividing by the
      // raw row count would report every null-text doc as a
      // duplicate).
      (lit(1.0) - countDistinct(md5(col(textCol))).cast("double") /
        nullif(count(col(textCol)), lit(0L))).as("dup_rate"))
    base.crossJoin(langSide)
  }

  /** Per-SOURCE report card — the per-domain quality dashboard a
    * mixture designer reads before setting [[mixtureSample]] weights:
    * one row per source with volume (docs, tokens), exact duplicate
    * rate (md5-hashed texts, non-null denominator — the
    * [[corpusReport]] rule per group), mean composite quality, and
    * `lang_agreement` (the share of docs whose detected [[langId]]
    * matches the source's declared language column — a mislabeled or
    * crawled-dirty source scores low). One map-side-combined groupBy;
    * output is |sources| rows.
    */
  def sourceReportCard(df: DataFrame, sourceCol: String,
      textCol: String, langCol: String): DataFrame = {
    // quality + detected language from the one-pass signal kernel
    // (round 6) — the Column formulation re-split each text ~12x
    // inside this aggregation's input projection
    val t = col(textCol)
    withTextSignals(df, textCol)
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ts_ws_tokens").cast("long")).as("total_tokens"),
        (lit(1.0) - countDistinct(md5(t)).cast("double") /
          nullif(count(t), lit(0L))).as("dup_rate"),
        avg(col("__ts_quality")).as("mean_quality"),
        (sum(when(col("__ts_lang_pred") === col(langCol), 1L)
          .otherwise(0L))
          .cast("double") / count(lit(1))).as("lang_agreement"))
  }

  /** TF-IDF term scores: `tfidf(d, t) = tf(d, t) * ln(N / df(t))` —
    * the classic retrieval/curation relevance weight (e.g. keeping
    * documents rich in domain terms, or building sparse retrieval
    * features next to the dense ANN path).
    *
    * Scale shape: ONE explode of the token stream feeds two map-side-
    * combined aggregations — per-(doc, term) counts and per-term
    * document frequencies — joined back on `term`. The vocabulary side
    * is |terms| rows (Zipf-small next to the corpus), so AQE
    * broadcasts it; N is a driver scalar. No per-document state, no
    * window. `minTf` prunes the long unit-count tail BEFORE the join.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      minTf: Int = 1): DataFrame = {
    val n = df.count()
    val toks = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__t"))
    val tf = toks.groupBy(col("__id"), col("__t"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("__t"))
      .agg(count(lit(1)).as("__df")) // tf rows are distinct (doc, term)
    tf.filter(col("tf") >= minTf)
      .join(dfreq, "__t")
      .select(col("__id").as(idCol), col("__t").as("term"), col("tf"),
        (col("tf") * log(lit(n.toDouble) / col("__df"))).as("tfidf"))
  }

  /** Unigram language-model surprisal — the CCNet/Gopher-family
    * perplexity quality signal with a relational unigram LM standing in
    * for the 5-gram KenLM (the wiring — train counts, score corpus,
    * rank by average negative log-probability — is identical; swap the
    * LM table to upgrade the model):
    *
    *   score(doc) = avg over tokens of -ln(count(term) / total)
    *
    * Low = fluent/common language, high = junk or vocabulary the LM
    * never saw — the classic keep/drop curation signal.
    *
    * `lm` defaults to the corpus itself (self-scored); pass a
    * (term, cnt) frame to score against a reference LM — unseen terms
    * then cost -ln(0.5 / total) (continuity-corrected, deterministic).
    *
    * Scale shape: identical to [[tfidf]] — one token explode feeds a
    * map-side-combined LM count agg (Zipf-small, AQE broadcasts it), an
    * equi-join back on term, one per-doc aggregation. No model state
    * outside the LM table; value-exact q119.
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String,
      lm: Option[DataFrame] = None): DataFrame = {
    val toks = df.select(col(idCol).as("__id"),
      explode(tokens(col(textCol))).as("__t"))
    val model = lm match {
      case Some(m) => m.select(col("term").as("__t"),
        col("cnt").cast("double").as("__c"))
      case None => toks.groupBy(col("__t"))
        .agg(count(lit(1)).cast("double").as("__c"))
    }
    // null-safe: an empty corpus/LM fits total=1 and scores no rows
    val totalRow = model.agg(sum(col("__c"))).head()
    val total = if (totalRow.isNullAt(0)) 1.0 else totalRow.getDouble(0)
    toks.join(model, Seq("__t"), "left")
      .groupBy(col("__id"))
      .agg(avg(-log(coalesce(col("__c"), lit(0.5)) / lit(total)))
        .as("surprisal"))
      .withColumnRenamed("__id", idCol)
  }

  /** Feature-hashing sparse term-frequency vectors (the hashing trick:
    * sklearn HashingVectorizer / Spark MLlib HashingTF shape, emitted
    * as COO rows `(id, bucket, tf)`).
    *
    * The at-scale complement of [[tfidf]]/[[vocabulary]]: NO fitted
    * vocabulary state at all — bucket = hash(term) mod numFeatures is
    * stateless, so the op is a single explode + one map-side-combined
    * groupBy, embarrassingly scalable and immune to vocabulary growth.
    * `signed` enables the collision-unbiasing ±1 second hash
    * (Weinberger et al. 2009): colliding terms then cancel in
    * expectation instead of inflating the bucket. Buckets whose signed
    * counts cancel to exactly 0 are still emitted (their presence is
    * information; filter `tf != 0` downstream if not).
    *
    * `hashName` md5 is engine-reproducible (DuckDB oracle, q117);
    * xxhash64 is the cheap codegen'd default — same rule as
    * [[graft.operators.HashingEncoderTransformer]].
    */
  def hashedTfVector(df: DataFrame, idCol: String, textCol: String,
      numFeatures: Int, signed: Boolean = false,
      hashName: String = "xxhash64"): DataFrame = {
    require(numFeatures > 0,
      s"numFeatures must be positive, got $numFeatures")
    require(Seq("md5", "xxhash64").contains(hashName),
      s"hash must be md5 or xxhash64, got $hashName")
    val t = col("__t")
    val bucket = (hashName match {
      case "md5" =>
        pmod(conv(substring(md5(t), 1, 15), 16, 10).cast("long"),
          lit(numFeatures.toLong))
      case _ => pmod(xxhash64(t), lit(numFeatures.toLong))
    }).cast("int")
    val sgn =
      if (!signed) lit(1L)
      else {
        val bit = hashName match {
          case "md5" =>
            conv(substring(md5(t), 17, 1), 16, 10).cast("long") % 2
          case _ => pmod(xxhash64(t, lit("sign")), lit(2L))
        }
        when(bit === 0, 1L).otherwise(-1L)
      }
    df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), bucket.as("bucket"), sgn.as("__s"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("__s")).as("tf"))
  }

  /** PII scrubbing patterns (emails, North-American-style phone
    * numbers, IPv4 addresses) — deliberately RE2-safe (no backrefs,
    * no lookaround) so any regex engine (Java here, RE2 in the DuckDB
    * oracle, RE2 in most stream processors) produces the SAME matches.
    * Curation pipelines (C4, Dolma) run exactly this kind of pass
    * before training.
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhonePattern = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val Ipv4Pattern = "\\b[0-9]{1,3}(\\.[0-9]{1,3}){3}\\b"

  /** Scrub PII: replace every email / IPv4 / phone match (in that
    * pinned order) with a typed placeholder. Each stage COUNTS on the
    * previous stage's output, so `n_redactions` equals the number of
    * placeholders actually inserted even when patterns nest — an
    * email like `555-867-5309@corp.example.com` contains a
    * phone-shaped substring, but it is redacted ONCE (as an email)
    * and counted once. Pure codegen'd projection — a map-only stage
    * at any scale, no shuffle, no state. Output adds `n_redactions`
    * and `clean_text`; null text yields null both.
    */
  def scrubPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val afterEmail = regexp_replace(t, EmailPattern, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Pattern, "<IP>")
    val cleaned = regexp_replace(afterIp, PhonePattern, "<PHONE>")
    val n = (size(regexp_extract_all(t, lit(EmailPattern), lit(0))) +
      size(regexp_extract_all(afterEmail, lit(Ipv4Pattern), lit(0))) +
      size(regexp_extract_all(afterIp, lit(PhonePattern), lit(0))))
      .cast("long")
    df.withColumn("n_redactions",
        when(t.isNull, lit(null).cast("long")).otherwise(n))
      .withColumn("clean_text", cleaned)
  }

  /** Fully relational MIXTURE sampling: down-sample each stratum so
    * the kept corpus approaches `tokenBudget` tokens split by
    * `targetShares` (e.g. en 0.5 / de 0.3 / zh 0.2 — the Pile/Dolma
    * data-mixing step). Per-stratum keep rate =
    * `min(1, budget * share / stratum_tokens)`, applied with the
    * deterministic [[Sharding.mixHash]] row filter. `idCol` must be
    * integral (the mixHash contract): a string id would null under
    * the cast and silently drop every row.
    *
    * NOTHING is collected: the |strata|-row token totals join back
    * broadcast-style and the threshold `floor(rate * 2^32)` is
    * computed inside the plan with IEEE-exact steps (*, /, min,
    * floor), so any engine reproduces the exact row set. Strata
    * absent from `targetShares` are dropped (share 0). A stratum
    * smaller than its target keeps ALL its rows (rate caps at 1) —
    * mixture shortfall is reported by the downstream report, not
    * silently rebalanced.
    */
  def mixtureSample(df: DataFrame, stratumCol: String, idCol: String,
      tokenCol: String, targetShares: Map[String, Double],
      tokenBudget: Long): DataFrame = {
    require(targetShares.nonEmpty &&
      targetShares.values.forall(s => s >= 0 && s <= 1),
      s"shares must be in [0,1]: $targetShares")
    graft.core.Ids.requireIntegral(df, idCol, "mixtureSample")
    val share = element_at(typedLit(targetShares), col(stratumCol))
    val totals = df
      .filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).as("__st"))
      .agg(sum(col(tokenCol).cast("long")).as("__tok"))
    val thresh = floor(least(lit(1.0),
      (lit(tokenBudget.toDouble) * share) /
        col("__tok").cast("double")) * lit(4294967296.0))
    df.join(broadcast(totals), col(stratumCol) === col("__st"))
      .filter(share.isNotNull &&
        Sharding.mixHash(col(idCol)) < thresh)
      .drop("__st", "__tok")
  }

  /** Temperature-scaled mixture sampling (the multilingual
    * alpha-sampling rule of XLM/mT5): target shares are DERIVED from
    * the observed per-stratum token mass,
    * `share_s = n_s^alpha / sum_t n_t^alpha` — alpha < 1 upweights
    * low-resource strata, alpha = 1 is proportional (no reweighting) —
    * then rows are kept by the same deterministic mixHash thresholds
    * as [[mixtureSample]]. The knob every multilingual pretraining mix
    * turns; [[mixtureSample]] is its explicit-shares sibling.
    *
    * Fit is ONE bounded groupBy (\|strata\| rows to the driver,
    * cap-guarded like every encoder fit); the normalizer folds in
    * ASCENDING stratum order and shares round to 12dp, so the derived
    * integer thresholds are engine-exact (the oracle replays the same
    * ordered fold via list_reduce — q156). Transform is a pure
    * literal-map filter: no join in the plan at all.
    */
  def temperatureMixtureSample(df: DataFrame, stratumCol: String,
      idCol: String, tokenCol: String, alpha: Double,
      tokenBudget: Long): DataFrame = {
    graft.core.Ids.requireIntegral(df, idCol, "temperatureMixtureSample")
    val thresholds: Map[String, Long] =
      temperatureThresholds(df, stratumCol, tokenCol, alpha, tokenBudget)
        .map { case (st, (_, _, _, thr)) => st -> thr }.toMap
    val thr = element_at(typedLit(thresholds),
      col(stratumCol).cast("string"))
    df.filter(thr.isNotNull && Sharding.mixHash(col(idCol)) < thr)
  }

  /** The fitted per-stratum plan behind [[temperatureMixtureSample]]:
    * stratum -> (token mass, 12dp-rounded share, keep rate, integer
    * hash threshold). Shared by the sampler and the PLAN report so
    * the two can never disagree.
    */
  private def temperatureThresholds(df: DataFrame, stratumCol: String,
      tokenCol: String, alpha: Double, tokenBudget: Long)
      : Seq[(String, (Long, Double, Double, Long))] = {
    require(alpha > 0 && alpha <= 1,
      s"temperature alpha must be in (0,1], got $alpha")
    require(tokenBudget > 0,
      s"token budget must be positive, got $tokenBudget")
    val cap = graft.core.Limits.maxFitLevels(df.sparkSession)
    val rows = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol).cast("string").as("__st"))
      .agg(sum(col(tokenCol).cast("long")).as("__tok"))
      .limit(cap + 1)
      .collect()
      // a stratum with no (non-null) token mass has no defined share:
      // it draws no budget and keeps nothing — same silent-drop
      // convention as mixtureSample's null-total threshold
      .filter(r => !r.isNullAt(1) && r.getLong(1) > 0)
      .map(r => (r.getString(0), r.getLong(1)))
    if (rows.length > cap)
      graft.core.Limits.levelCapError("temperatureMixtureSample", cap,
        s"strata of $stratumCol")
    val sorted = rows.sortBy(_._1)
    val z = sorted.foldLeft(0.0)((a, kv) =>
      a + math.pow(kv._2.toDouble, alpha))
    sorted.map { case (st, n) =>
      // 12dp half-away-from-zero round (positive input): kills any
      // cross-engine last-ulp wobble in the z fold before the floor
      val share = math.floor(
        math.pow(n.toDouble, alpha) / z * 1e12 + 0.5) / 1e12
      val rate = math.min(1.0, tokenBudget.toDouble * share / n.toDouble)
      st -> ((n, share, rate,
        math.floor(rate * 4294967296.0).toLong))
    }
  }

  /** The mixture PLAN as a table — the artifact a data team reviews
    * BEFORE launching the sampled job: per stratum, the observed token
    * mass, the temperature-derived target share, the keep rate (1.0 =
    * under-represented stratum kept whole), the expected kept tokens,
    * and the exact integer hash threshold the sampler will apply.
    * \|strata\| rows; same fit as [[temperatureMixtureSample]], so
    * plan and execution cannot drift (shared code path, q156/q161).
    */
  def temperatureMixturePlan(df: DataFrame, stratumCol: String,
      tokenCol: String, alpha: Double, tokenBudget: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    temperatureThresholds(df, stratumCol, tokenCol, alpha, tokenBudget)
      .map { case (st, (n, share, rate, thr)) =>
        (st, n, share, rate, rate * n, thr) }
      .toDF(stratumCol, "n_tokens", "share", "keep_rate",
        "expected_tokens", "hash_threshold")
  }

  /** UPSAMPLING mixture plan — the complement of
    * [[temperatureMixturePlan]]'s downsampling: given explicit target
    * mixture weights in exact MILLI units (`weightsMilli` must sum to
    * 1000 — a sloppy 999 would silently under-fill the budget) and a
    * total token budget, emit per stratum
    *
    *   - `n_tokens`       the stratum's corpus token mass,
    *   - `target_tokens`  `(budget * w) div 1000` (integer-exact),
    *   - `full_epochs`    `ceil(target / n_tokens)` — how many passes
    *                      over the stratum the loader schedules,
    *   - `rep_factor`     `target / n_tokens` as a double from exact
    *                      integer operands (bit-identical anywhere).
    *
    * A stratum with weight but no corpus rows cannot appear (there is
    * nothing to repeat — the caller's mixture is infeasible and the
    * missing row makes that visible); unlisted strata get weight 0.
    * ONE map-side-combined aggregation, \|strata\| output rows.
    */
  def repetitionPlan(df: DataFrame, stratumCol: String,
      tokenCol: String, weightsMilli: Map[String, Int],
      tokenBudget: Long): DataFrame = {
    require(tokenBudget > 0,
      s"repetitionPlan: budget must be positive, got $tokenBudget")
    require(weightsMilli.values.forall(_ >= 0) &&
      weightsMilli.values.sum == 1000,
      s"repetitionPlan: weights must be non-negative milli units " +
        s"summing to 1000, got $weightsMilli")
    val w = coalesce(
      element_at(typedLit(weightsMilli.map { case (k, v) =>
        k -> v.toLong }), col(stratumCol)), lit(0L))
    df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol).cast("long")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("__w", w)
      .withColumn("target_tokens",
        expr(s"(${tokenBudget}L * __w) div 1000L"))
      .withColumn("full_epochs",
        expr("(target_tokens + n_tokens - 1) div n_tokens"))
      .withColumn("rep_factor",
        col("target_tokens").cast("double") /
          col("n_tokens").cast("double"))
      .drop("__w")
  }

  /** SOURCE VOCABULARY OVERLAP — for every pair of corpus sources,
    * the Jaccard and containment of their DISTINCT whitespace-token
    * vocabularies: the "are these two feeds the same text dressed
    * differently" screen a mixture planner reads before weighting
    * sources (near-identical vocabularies → one source in disguise;
    * containment catches a feed that is a strict subset of a bigger
    * one even when Jaccard looks small).
    *
    * Scale shape: the same inverted-index pair join as every sparse
    * similarity here — (source, token) DISTINCT, pairs meet only on
    * shared tokens (never |S|²·|V| dense), sizes attach by
    * broadcast (|sources| rows). Exact integer set sizes, two
    * double divisions at readout. Pairs sharing no token are absent
    * (their Jaccard is 0 by construction).
    */
  def sourceOverlap(df: DataFrame, keyCol: String, textCol: String)
      : DataFrame = {
    val words = df
      .filter(col(keyCol).isNotNull && col(textCol).isNotNull)
      .select(col(keyCol).as("__k"),
        explode(tokens(col(textCol))).as("__w"))
      .distinct()
    val sizes = words.groupBy(col("__k"))
      .agg(count(lit(1)).as("__sz"))
    val a = words.select(col("__k").as("key_a"), col("__w"))
    val b = words.select(col("__k").as("key_b"), col("__w"))
    val shared = a.join(b, Seq("__w"))
      .filter(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(broadcast(sizes.select(col("__k").as("key_a"),
        col("__sz").as("n_a"))), Seq("key_a"))
      .join(broadcast(sizes.select(col("__k").as("key_b"),
        col("__sz").as("n_b"))), Seq("key_b"))
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
          .as("containment"))
  }
}
