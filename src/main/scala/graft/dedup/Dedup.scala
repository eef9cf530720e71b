package graft.dedup

import graft.core.Kernel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Deduplication for web-scale corpora: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: everything is one-shuffle shapes —
  *   - exact: one map-side-combined aggregation on the content key,
  *     keeping the smallest id;
  *   - MinHash: signatures come from a map-only per-document kernel,
  *     the LSH band join shuffles only (band, bandHash) pairs — tiny vs
  *     the corpus — and candidate verification joins back by id;
  *   - blocked n-gram Jaccard: each shingle set crosses one exchange
  *     on its block, and the pairs are enumerated inside the block's
  *     task; oversized blocks are split into fragment pairs first;
  *   - SimHash: per-row 64-bit signature, near-dup candidates via
  *     banded equality on signature quarters (Hamming<=3 within bands).
  */
object Dedup {

  /** Ensure a kernel input has enough partitions to use the cluster:
    * the per-partition kernels are MAP-ONLY, so they inherit the
    * scan's split count — a generated or single-file input can arrive
    * in one partition and serialize a hashing-heavy pass on one core
    * (the old window shapes were immune only because their exchange
    * incidentally spread the rows). Round-robin repartition to
    * defaultParallelism ONLY when the input is clearly narrower —
    * scale-adaptive (derived from the session's parallelism, never a
    * constant) and a no-op on real multi-split tables. Use ONLY on
    * plain scan/projection inputs: the `.rdd` partition probe builds
    * (and under AQE can partially execute) the physical plan, so
    * probing a join subtree costs more than it saves — the cheap
    * kernels (minhash/shingle-set/winnow/signals) therefore skip it;
    * the md5-heavy span gram kernel is the one measured to need it
    * (sf1 span 4.8 s single-core -> 2.5 s spread).
    */
  private[graft] def spreadForKernel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 <= target) df.repartition(target)
    else df
  }

  /** Exact dedup by content columns, keeping the smallest `idCol` per
    * duplicate group.
    *
    * NOT `row_number() OVER (PARTITION BY content)`: web corpora have
    * massively hot content keys (empty pages, boilerplate, license
    * headers — one text duplicated 10^7 times), and a window buffers
    * and sorts each content group inside ONE task. This is ONE
    * map-side-combined aggregation instead: `min_by(struct(*), id)`
    * keeps the smallest-id candidate row per content per map
    * partition, so the exchange carries at most |distinct contents| x
    * |partitions| rows however hot a key is, and no join, sort, or
    * second pass exists at all. Content equality is exact (the agg
    * groups on the real columns, not a hash). Ids must be unique and
    * non-null — the keep-the-smallest-id contract is meaningless
    * otherwise.
    */
  def exact(df: DataFrame, contentCols: Seq[String], idCol: String)
      : DataFrame = {
    val allCols = df.columns.toSeq
    df.groupBy(contentCols.map(col): _*)
      .agg(min_by(struct(allCols.map(col): _*), col(idCol)).as("__row"))
      .select(allCols.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** `(__id, __s)` shingle ROWS, fully relational: posexplode tokens
    * (split evaluated ONCE per document, generate is codegen'd), then a
    * window `lead` per offset within the document builds each n-gram.
    * Work is O(total_tokens * n) characters — no interpreted lambdas,
    * no quadratic re-splitting. One exchange on `__id` (the window),
    * which downstream per-id aggregations then reuse.
    * Duplicate shingles are kept (min-hash is dup-insensitive; set
    * consumers dedup via collect_set in [[shingleSetsOf]]).
    */
  private[graft] def shingleRowsOf(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val toks = df
      .select(col(idCol).as("__id"),
        posexplode(split(col(textCol), " ")).as(Seq("__pos", "__t")))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos"))
    val parts = (0 until n).map(k =>
      if (k == 0) col("__t") else lead(col("__t"), k).over(w))
    toks
      .select(col("__id"), parts.last.isNotNull.as("__full"),
        concat_ws(" ", parts: _*).as("__s"))
      .filter(col("__full"))
      .select(col("__id"), col("__s"))
  }

  /** `(__id, __sh)` distinct shingle SETS per document (for exact
    * Jaccard verification) — computed by the per-partition JVM kernel
    * (round 6): each document's shingles are built and deduped inside
    * one tight loop in its scan task, so the op is a MAP-ONLY pass
    * with no posexplode, no window exchange/sort, and no collect_set
    * shuffle at all (the previous shape shuffled every token row).
    * Same output: one row per document with >= 1 shingle; set order
    * is unspecified (all consumers are order-insensitive
    * array_intersect/size).
    */
  private[graft] def shingleSetsOf(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame =
    withShingleSets(df, Seq(col(idCol).as("__id")), col(textCol), n)

  /** The shingle-set kernel behind [[shingleSetsOf]]: the `keep`
    * columns followed by `__sh`, the distinct n-grams of `text`, one
    * row per input row with >= 1 shingle (null text and texts of
    * fewer than `n` tokens drop out).
    */
  private def withShingleSets(df: DataFrame, keep: Seq[Column],
      text: Column, n: Int): DataFrame = {
    val in = df.select(keep :+ text.cast("string"): _*)
    val k = keep.size
    val sh = StructField("__sh", ArrayType(StringType, containsNull = false))
    Kernel.append(in, 0 until k, Seq(sh)) { () => r =>
      val set = if (r.isNullAt(k)) null else shingleSet(r.getString(k), n)
      if (set == null) null else Seq(set)
    }
  }

  /** Distinct space-token n-grams of `text` in first-seen order, or
    * null when it has fewer than `n` tokens.
    */
  private def shingleSet(text: String, n: Int): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) null
    else {
      val seen = new java.util.LinkedHashSet[String]
      val sb = new java.lang.StringBuilder
      var p = 0
      while (p <= toks.length - n) {
        seen.add(gram(toks, p, n, sb)); p += 1
      }
      val arr = new Array[String](seen.size)
      seen.toArray(arr)
      arr
    }
  }

  /** The n-gram starting at token `p`: tokens `p .. p+n-1` joined by
    * single spaces, built in the caller's reused `sb`, so the one
    * allocation per gram is its `String`.
    */
  private[graft] def gram(toks: Array[String], p: Int, n: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(p + j)); j += 1
    }
    sb.toString
  }

  /** |a ∩ b| of two distinct string sets: `set` hashes one side and
    * every element of the other probes it.
    */
  private def sharedCount(set: java.util.HashSet[String],
      probe: scala.collection.Seq[String]): Int = {
    var n = 0
    probe.foreach(t => if (set.contains(t)) n += 1)
    n
  }

  private def hashSetOf(xs: scala.collection.Seq[String])
      : java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](xs.size * 2)
    xs.foreach(s.add)
    s
  }

  /** |a ∩ b| of two distinct sets: hash the smaller, probe with the
    * larger.
    */
  private def intersectionSize(a: Seq[String], b: Seq[String]): Int =
    if (a.size <= b.size) sharedCount(hashSetOf(a), b)
    else sharedCount(hashSetOf(b), a)

  /** Per-document MinHash signature table `(id, mh0..mh{numHashes-1})`,
    * computed by a PER-PARTITION JVM KERNEL (round 6): each document's
    * shingles, hashes and running minima are produced in one tight
    * loop inside its scan task — a map-only stage with a |docs|-row
    * output and NO shuffle at all.
    *
    * Bit-compatibility: each shingle STRING is hashed exactly once
    * with the evaluator behind the SQL `xxhash64` (`XxHash64Function`,
    * seed 42); the `numHashes` slots re-hash that 64-bit value with
    * the slot seed exactly as `xxhash64(u, lit(seed))` folds
    * (`hashInt(seed, hashLong(u, 42))`), so the signatures equal the
    * previous relational `min(xxhash64(xxhash64(shingle), seed))`
    * aggregation digit-for-digit (spec-asserted).
    *
    * Why a kernel and not expressions: the relational shape paid a
    * full posexplode + per-doc window exchange/sort just to assemble
    * shingles (~0.5 s of the 1.0 s q41 at sf0.1 — measured round 6),
    * and the higher-order-function projection alternative is
    * interpreted per element (no codegen, no subexpression
    * elimination — measured 20-40% SLOWER than the window). The
    * kernel does the same O(tokens * n) work with zero exchanges;
    * per-task memory is bounded by one document's tokens.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
    import org.apache.spark.unsafe.types.UTF8String
    val in = df.select(col(idCol).as("__id"), col(textCol).cast("string"))
    val (n, k) = (shingleSize, numHashes)
    Kernel.append(in, Seq(0), (0 until numHashes).map(s =>
      StructField(s"mh$s", LongType, nullable = false))) { () =>
      val sb = new java.lang.StringBuilder
      r => {
        val text = if (r.isNullAt(1)) null else r.getString(1)
        val toks = if (text == null) null else text.split(" ", -1)
        if (toks == null || toks.length < n) null
        else {
          // per-document kernel (round 6): shingle strings, one
          // xxhash64 per shingle, k seed-rehashes folding into
          // running minima — bit-identical to the relational
          // min(xxhash64(xxhash64(shingle), seed)) aggregation
          // (XxHash64Function/XXH64 are the exact evaluators behind
          // the SQL xxhash64), but with no posexplode, no window
          // exchange/sort, and a |docs|-row output instead of a
          // token-row shuffle.
          val mins = Array.fill(k)(Long.MaxValue)
          var p = 0
          while (p <= toks.length - n) {
            val u = XxHash64Function.hash(
              UTF8String.fromString(gram(toks, p, n, sb)), StringType, 42L)
            val hu = XXH64.hashLong(u, 42L)
            var s = 0
            while (s < k) {
              val h = XXH64.hashInt(s, hu)
              if (h < mins(s)) mins(s) = h
              s += 1
            }
            p += 1
          }
          scala.collection.immutable.ArraySeq.unsafeWrapArray(mins)
        }
      }
    }
  }

  /** `(__id, band, bh)` LSH band-bucket rows: each `rows`-wide
    * signature band hashed to a bucket — the per-document index
    * entries both the one-shot self-join and the persisted incremental
    * index ([[MinhashIndex]]) are built from.
    */
  def bandRows(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = minhashSignatures(df, idCol, textCol, shingleSize,
      numHashes)
    val bandCols = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(s => col(s"mh$s"))
      struct(lit(b).as("band"),
        xxhash64(slice: _*).as("bh"))
    }
    sigs
      .select(col("__id"), explode(array(bandCols: _*)).as("bucket"))
      .select(col("__id"), col("bucket.band"), col("bucket.bh"))
  }

  /** LSH candidate pairs: self-join the band rows on (band, bucket).
    * Returns (id_a, id_b), id_a < id_b, distinct. The self-join's two
    * sides alias the SAME pre-partitioned plan, so Spark reuses one
    * shuffle (ReusedExchange) instead of computing signatures twice.
    */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    val banded =
      bandRows(df, idCol, textCol, shingleSize, numHashes, bands)
      .repartition(col("band"), col("bh"))
    val a = banded.select(col("__id").as("id_a"), col("band"), col("bh"))
    val b = banded.select(col("__id").as("id_b"), col("band"), col("bh"))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Verified near-dups: LSH candidates with true shingle-set Jaccard
    * >= threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3, numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    val cands = lshCandidates(df, idCol, textCol, shingleSize,
      numHashes, bands)
    verifyJaccard(cands, df, idCol, textCol, threshold, shingleSize)
  }

  /** Per-pair exact Jaccard from two shingle-set columns — the
    * candidate PAIR-VERIFY KERNEL of [[verifyJaccard]]: the per-pair
    * intersection runs as a JVM hash-set probe inside `mapPartitions`
    * instead of the `array_intersect` expression (which builds its set
    * per evaluation). Arithmetic identical:
    * `|inter| / (|a| + |b| - |inter|)` over distinct sets, the |union|
    * rearrangement, same IEEE order. Input must expose
    * (id_a, sh_a, id_b, sh_b); output (id_a, id_b, jaccard).
    */
  private[graft] def jaccardOfPairs(pairs: DataFrame): DataFrame = {
    val in = pairs.select(col("id_a"), col("id_b"),
      col("sh_a"), col("sh_b"))
    Kernel.append(in, Seq(0, 1),
      Seq(StructField("jaccard", DoubleType, nullable = true))) { () => r =>
      val a = r.getSeq[String](2)
      val b = r.getSeq[String](3)
      val i = intersectionSize(a, b).toDouble
      Seq(i / ((a.size + b.size) - i))
    }
  }

  /** Exact shingle-Jaccard verification of candidate pairs against a
    * `(id, text)` source; shared by the one-shot near-dup path and the
    * incremental index.
    */
  def verifyJaccard(cands: DataFrame, texts: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleSize: Int)
      : DataFrame = {
    val sh = shingleSetsOf(texts, idCol, textCol, shingleSize)
    jaccardOfPairs(cands
      .join(sh.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__sh", "sh_b"), Seq("id_b"))
      // verification is CPU-bound, and AQE coalesces/broadcasts by
      // DATA size, which would funnel all pairs into one task on
      // modest inputs — spread pairs explicitly
      .repartition(
        texts.sparkSession.sessionState.conf.numShufflePartitions))
      .filter(col("jaccard") >= threshold)
  }

  /** Pairwise n-gram-set Jaccard within candidate blocks (same
    * `blockCol` value): the oracle-checkable n-gram Jaccard dedup.
    * Blocks bound the quadratic term; at scale the block column is an
    * LSH bucket or length band. Returns `(id_a, id_b, jaccard)` with
    * `id_a < id_b`, one row per pair of distinct ids sharing a block;
    * rows with a null block or id, null text or fewer than `n` tokens
    * take part in no pair. `jaccard = |inter| / (|a| + |b| - |inter|)`
    * over the distinct n-gram sets.
    *
    * Block-local shape (SparkER-style block-centric processing): each
    * document's shingle set crosses ONE exchange once. The
    * `(block, id, set)` rows are hash-partitioned on the block and
    * sorted by `(block, id)` within each partition, and one kernel
    * walks every contiguous block run: it builds each document's hash
    * set at most once and enumerates the pairs `i < j` inside the
    * task. A block self-join would instead carry both sets on every
    * pair row through a join and a pair repartition, and rebuild a
    * hash set per pair.
    *
    * Hot blocks (FP-Hadoop-style split of oversized reduce groups): a
    * block-size histogram read with one small aggregate gives each
    * block's pair count. Blocks at or below the per-task share (total
    * pairs / shuffle partitions) stay whole, so uniform blocks take the
    * one-exchange path unchanged. A block above it is cut into
    * `c ~ sqrt(2 * pairs / share)` fragments by id hash; each row is
    * replicated to the `c` fragment pairs `(f <= g)` it belongs to,
    * and every such unit is its own run, so each document pair meets
    * in exactly one task and no unit holds much more than a share.
    */
  def blockedJaccard(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val tasks = spark.sessionState.conf.numShufflePartitions
    val live = df.filter(col(blockCol).isNotNull && col(idCol).isNotNull)
    val sets = withShingleSets(live,
      Seq(col(blockCol).as("__blk"), col(idCol).as("__id")),
      col(textCol), n)
    // docs with >= n tokens per block, counted without the shingle pass
    val hist = live
      .filter(size(split(col(textCol).cast("string"), " ")) >= n)
      .groupBy(col(blockCol).as("__blk"))
      .agg(count(lit(1)).as("__m"))
      .withColumn("__p", col("__m") * (col("__m") - 1) / 2)
    val sizes = hist.agg(coalesce(sum(col("__p")), lit(0.0)),
      coalesce(max(col("__p")), lit(0.0))).head()
    val share = sizes.getDouble(0) / tasks
    val units =
      if (sizes.getDouble(1) <= share)
        sets.select(col("__blk").as("__key"), lit(-1).as("__side"),
          col("__id"), col("__sh"))
      else {
        // at most `tasks` blocks can exceed the share: a small driver
        // list, broadcast back as (block, fragment count)
        val hot = hist.filter(col("__p") > share).select(col("__blk"),
          least(col("__m"), ceil(sqrt(col("__p") * (2.0 / share))))
            .cast("int").as("__c"))
        val hotRows = spark.createDataFrame(
          java.util.Arrays.asList(hot.collect(): _*), hot.schema)
        val c = coalesce(col("__c"), lit(1))
        val f = col("__f")
        val g = col("__g")
        sets.join(broadcast(hotRows), Seq("__blk"), "left")
          .select(col("__blk"), col("__id"), col("__sh"), c.as("__c"),
            pmod(xxhash64(col("__id")), c.cast("long")).cast("int")
              .as("__f"),
            explode(sequence(lit(0), c - 1)).as("__g"))
          // unit (lo, hi) = (least, greatest) of the row's fragment f
          // and the replica's g; side -1 pairs with every row of a
          // diagonal unit, sides 0/1 pair only across fragments
          .select(
            struct(col("__blk"),
              (least(f, g) * col("__c") + greatest(f, g)).as("__u"))
              .as("__key"),
            when(f === g, -1).when(f < g, 0).otherwise(1).as("__side"),
            col("__id"), col("__sh"))
      }
    blockPairs(units.repartition(tasks, col("__key"))
      .sortWithinPartitions(col("__key"), col("__id")))
  }

  /** The block-local pair kernel of [[blockedJaccard]]. Input rows
    * `(__key, __side, __id, __sh)` arrive grouped by `__key` and sorted
    * by `__id` within a partition; output `(id_a, id_b, jaccard)`.
    */
  private def blockPairs(units: DataFrame): DataFrame = {
    val idf = units.schema("__id")
    val schema = StructType(Seq(
      StructField("id_a", idf.dataType, idf.nullable),
      StructField("id_b", idf.dataType, idf.nullable),
      StructField("jaccard", DoubleType, nullable = true)))
    Kernel.map(units, schema) { rows =>
      val in = rows.buffered
      new Iterator[Iterator[Row]] {
        def hasNext: Boolean = in.hasNext
        def next(): Iterator[Row] = {
          val key = in.head.get(0)
          val run = Array.newBuilder[Row]
          while (in.hasNext && sameValue(in.head.get(0), key))
            run += in.next()
          runPairs(run.result())
        }
      }.flatten
    }
  }

  /** All pairs of one run: `i < j` in id order, equal ids skipped, and
    * a pair of sides `s_i, s_j >= 0` kept only when `s_i != s_j`.
    */
  private def runPairs(run: Array[Row]): Iterator[Row] = {
    val m = run.length
    val ids = run.map(_.get(2))
    val sides = run.map(_.getInt(1))
    val sh = run.map(_.getSeq[String](3).toArray)
    // first index of each id's equal-id group (sorted, so adjacent)
    val grp = new Array[Int](m)
    var i = 1
    while (i < m) {
      grp(i) = if (sameValue(ids(i), ids(i - 1))) grp(i - 1) else i
      i += 1
    }
    val sets = new Array[java.util.HashSet[String]](m)
    def setOf(k: Int): java.util.HashSet[String] = {
      if (sets(k) == null) sets(k) = hashSetOf(sh(k))
      sets(k)
    }
    // probe the larger set, hashed once per document, with the
    // smaller array (the count is the same either way); same
    // arithmetic as [[jaccardOfPairs]], so the doubles are
    // bit-identical
    def jaccard(a: Int, b: Int): Double = {
      val (small, large) =
        if (sh(a).length <= sh(b).length) (a, b) else (b, a)
      val x = sharedCount(setOf(large), sh(small)).toDouble
      x / ((sh(a).length + sh(b).length) - x)
    }
    Iterator.range(0, m).flatMap { a =>
      Iterator.range(a + 1, m)
        .filter(b => grp(b) != grp(a) &&
          (sides(a) < 0 || sides(a) != sides(b)))
        .map(b => Row(ids(a), ids(b), jaccard(a, b)))
    }
  }

  /** Spark value equality for grouping on the JVM side: `Row.equals`
    * compares binary by content and NaN as equal to NaN.
    */
  private def sameValue(a: Any, b: Any): Boolean = Row(a) == Row(b)

  /** Per-document SimHash table `(id, simhash)`, computed relationally
    * like [[minhashSignatures]]: explode tokens, ONE groupBy(id) with 64
    * codegen'd bit-vote sums (xxhash64(token) is shared across the 64
    * update expressions by codegen subexpression elimination), then a
    * small projection folds votes into the 64-bit signature. Map-side
    * combine keeps the shuffle at one 64-int row per id per partition.
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_), nBits: Int = 64)
      : DataFrame = {
    require(nBits >= 1 && nBits <= 64, s"nBits must be 1..64, got $nBits")
    val tokRows = df.select(col(idCol).as("__id"),
      explode(split(col(textCol), " ")).as("__t"))
    val h = tokenHash(col("__t"))
    val votes = (0 until nBits).map(k =>
      sum(when(shiftright(h, k).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$k"))
    val agged = tokRows.groupBy(col("__id")).agg(votes.head, votes.tail: _*)
    val bits = (0 until nBits).map(k =>
      when(col(s"v$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
    agged.select(col("__id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** 60-bit md5-derived token hash (top 15 hex digits): a few times
    * the CPU of xxhash64, but reproducible in any SQL engine — the
    * oracle-checkable [[simhashes]] variant. The fold rule lives in
    * [[graft.core.Hashing.md5Hash60]] (one definition for every
    * portable-hash consumer); this name stays as the dedup-side API.
    */
  def md5Hash60(t: Column): Column = graft.core.Hashing.md5Hash60(t)

  /** Embedding near-dup pairs via quantized cosine within blocks.
    * Embeddings are quantized to int (round(x*1000)) so dot products
    * are exact integer sums — deterministic across engines and the
    * standard int8-style quantization trick at scale.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val q = df.select(col(blockCol).as("__blk"), col(idCol).as("__id"),
      quantize(col(vecCol)).as("__q"))
    val a = q.select(col("__blk"), col("__id").as("id_a"),
      col("__q").as("q_a"))
    val b = q.select(col("__blk"), col("__id").as("id_b"),
      col("__q").as("q_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(col("q_a"), col("q_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ASYMMETRIC near-dup: n-gram containment pairs. For each directed
    * pair, `containment(src -> dst) = |sh(src) n sh(dst)| / |sh(src)|`
    * over distinct n-gram shingle sets — the signal Jaccard cannot
    * see: a short document fully embedded in a longer one (quoted
    * posts, wrapper/boilerplate pages, article + comment dumps) has
    * containment ~1 while Jaccard stays arbitrarily low.
    *
    * Scale shape:
    *   - candidates come from a DOCUMENT-FREQUENCY-PRUNED inverted
    *     index: one distinct (doc, shingle) row per set element, keep
    *     shingles with df in [2, maxDf], self-join on the shingle.
    *     The df cap is the skew guard — a boilerplate shingle in 10^6
    *     docs would otherwise emit 10^12 candidate rows; with the cap,
    *     candidates are <= sum_g C(df_g, 2) <= |pruned rows| * maxDf/2
    *     — LINEAR in corpus size for fixed maxDf. The tradeoff is
    *     explicit: a pair sharing ONLY ultra-common shingles is
    *     missed, and such pairs are boilerplate matches by definition;
    *   - verification is EXACT and restricted to candidates: shingle
    *     sets are joined to candidate ids only (never all-pairs), the
    *     true intersection comes from ONE JVM hash-set probe per pair
    *     (the round-6 pair-verify kernel), and both directions are
    *     derived from the one shared count — integer/integer division,
    *     engine-portable.
    *
    * Returns `(src_id, dst_id, containment)`, both directions of every
    * candidate pair passing `threshold`.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Long = 100L): DataFrame = {
    require(maxDf >= 2, s"containment: maxDf >= 2 required, got $maxDf")
    // persisted: the shingle-set kernel pass is the dominant scan cost
    // and has THREE consumers (the inverted index + both verify joins)
    // — same contract as SpanDedup's gram cache: registered until
    // clearCache()
    val sets = shingleSetsOf(df, idCol, textCol, n) // (__id, __sh)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = sets.select(col("__id"), explode(col("__sh")).as("__g"))
    val rare = rows.groupBy(col("__g"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select(col("__g"))
    val pruned = rows.join(rare, Seq("__g"))
    val cand = pruned.select(col("__g"), col("__id").as("id_a"))
      .join(pruned.select(col("__g"), col("__id").as("id_b")), Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // per-pair intersection via the JVM pair-verify kernel (round 6 —
    // see jaccardOfPairs; array_intersect rebuilt its set per
    // evaluation and dominated the verify stage)
    val joined = cand
      .join(sets.select(col("__id").as("id_a"), col("__sh").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col("__id").as("id_b"), col("__sh").as("__sb")),
        Seq("id_b"))
    val both = Kernel.append(
      joined.select(col("id_a"), col("id_b"), col("__sa"), col("__sb")),
      Seq(0, 1), Seq(
        StructField("__shared", DoubleType, nullable = false),
        StructField("__na", IntegerType, nullable = false),
        StructField("__nb", IntegerType, nullable = false))) { () => r =>
      val a = r.getSeq[String](2)
      val b = r.getSeq[String](3)
      Seq[Any](intersectionSize(a, b).toDouble, a.size, b.size)
    }
    // ONE verify-join pass emits BOTH directions (a 2-array explode),
    // instead of a union of two selects that would execute the join —
    // and the array_intersect per pair — twice
    both.select(explode(array(
        struct(col("id_a").as("src_id"), col("id_b").as("dst_id"),
          (col("__shared") / col("__na").cast("double"))
            .as("containment")),
        struct(col("id_b").as("src_id"), col("id_a").as("dst_id"),
          (col("__shared") / col("__nb").cast("double"))
            .as("containment")))).as("__d"))
      .select(col("__d.src_id"), col("__d.dst_id"),
        col("__d.containment"))
      .filter(col("containment") >= threshold)
  }

  /** Embedding near-dup WITHOUT a caller-provided blocking column:
    * IVF-style coarse assignment to the nearest of `nSeeds`
    * deterministic seed centroids (the vectors with the smallest ids),
    * then quantized-cosine pairs within each assigned cell.
    *
    * Scale shape (the reason this exists next to
    * [[embeddingNearDups]], which needs a domain blocking key):
    *   - the seed fetch is a bounded model fit — `nSeeds` quantized
    *     vectors to the driver, nothing else;
    *   - assignment is a PURE codegen'd projection against the seed
    *     literals (constant-folded centroid norms, [[cosineQ]] via the
    *     codegen'd DotProductQ) — no shuffle, no UDF: the classic IVF
    *     coarse-assign map stage;
    *   - only the cell equi-join shuffles, on the cell id, so the
    *     all-pairs work is confined to cells (salting/banding composes
    *     on top if a cell goes hot — at 10^12 scale you'd raise
    *     nSeeds so cells stay bounded, the same nlist tuning as the
    *     IVF ANN index in [[graft.ann.Knn]]; the literal fold keeps
    *     the PLAN at O(nSeeds x dim) constants, so past a few hundred
    *     seeds assignment should switch to the broadcast-join +
    *     argmax-aggregate shape of [[graft.ann.Knn.ivfLists]] — same
    *     semantics, plan size independent of nlist).
    *
    * Determinism: seeds are the `nSeeds` smallest-id vectors (no RNG);
    * ties in the argmax keep the SMALLEST seed id (strict `>` fold in
    * ascending seed order) — engine-portable, DuckDB-mirrorable.
    * Assignment is nearest-COSINE, matching the dedup metric.
    */
  def embeddingNearDupsIvf(df: DataFrame, idCol: String,
      vecCol: String, nSeeds: Int, threshold: Double): DataFrame = {
    val cells = ivfCells(df, idCol, vecCol, nSeeds)
    val a = cells.select(col("__blk"), col("__id").as("id_a"),
      col("__q").as("q_a"))
    val b = cells.select(col("__blk"), col("__id").as("id_b"),
      col("__q").as("q_b"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosineQ(col("q_a"), col("q_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** `(__id, __q, __blk)` IVF coarse assignment: each vector's cell is
    * the nearest-cosine seed (ties -> smallest seed id), computed as a
    * strict-`>` fold over the seed literals — a shuffle-free codegen'd
    * projection. Exposed for the spec-level equivalence check against
    * the window-argmax formulation (the shape the DuckDB oracle uses).
    */
  private[graft] def ivfCells(df: DataFrame, idCol: String,
      vecCol: String, nSeeds: Int): DataFrame = {
    require(nSeeds >= 1, s"embedding IVF dedup: nSeeds >= 1, got $nSeeds")
    val q = df.select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
    // bounded fit: nSeeds quantized vectors (ids ascending)
    val seeds: Seq[(Any, Seq[Long])] = q.orderBy(col("__id"))
      .limit(nSeeds).collect().toSeq
      .map(r => (r.get(0), r.getSeq[Long](1)))
    def cosTo(sv: Seq[Long]): Column =
      cosineQ(col("__q"), array(sv.map(lit(_)): _*))
    val best = seeds.tail.foldLeft(
      struct(cosTo(seeds.head._2).as("c"), lit(seeds.head._1).as("s"))) {
      (acc, seed) =>
        val c = cosTo(seed._2)
        when(c > acc.getField("c"),
          struct(c.as("c"), lit(seed._1).as("s"))).otherwise(acc)
    }
    q.select(col("__id"), col("__q"), best.getField("s").as("__blk"))
  }

  /** Fuzzy record linkage at edit distance <= 1 — "Jon Smith" /
    * "John Smith" / "Jon Smth" resolve to one entity: every pair of
    * rows whose strings are within Levenshtein 1, found by
    * DELETION-NEIGHBORHOOD blocking (FastSS): each string blocks on
    * itself plus its |s| one-character deletions, and two strings
    * within distance 1 PROVABLY share a block key (equal → identity
    * keys; substitution at i → both i-deletions equal; insert/delete
    * → the longer string's deletion equals the shorter's identity).
    * Candidates are verified with the exact codegen'd `levenshtein`,
    * so output = the exhaustive-truth pair set (q342 proves it
    * against a DuckDB all-pairs join).
    *
    * Scale shape: |s|+1 block keys per row and a key equi-join —
    * work is Σ|block|², never |corpus|² (the all-pairs join is
    * quadratic death at 10^9 names); verification touches candidate
    * pairs only. Output: `id_a < id_b`, `dist`.
    */
  def editDistancePairs(df: DataFrame, idCol: String,
      strCol: String): DataFrame = {
    val base = df
      .filter(col(idCol).isNotNull && col(strCol).isNotNull)
      .select(col(idCol).as("__id"), col(strCol).as("__s"))
    // identity key + the |s| deletion keys (1-based substring math;
    // an empty string degenerates to its identity key twice —
    // distinct() below absorbs it)
    val keys = base.select(col("__id"), col("__s"),
      explode(concat(array(col("__s")), expr(
        "transform(sequence(1, greatest(length(__s), 1)), " +
          "i -> concat(substring(__s, 1, i - 1), " +
          "substring(__s, i + 1, length(__s))))"))).as("__k"))
    val a = keys.select(col("__id").as("id_a"),
      col("__s").as("__sa"), col("__k"))
    val b = keys.select(col("__id").as("id_b"),
      col("__s").as("__sb"), col("__k"))
    a.join(b, Seq("__k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
      .filter(col("dist") <= 1)
  }

  /** round(x*1000) int64 quantization of a float vector. */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x.cast("double") * 1000).cast("long"))

  /** Cosine over quantized vectors: integer dot / (sqrt * sqrt) —
    * exact integer sums, deterministic IEEE tail. The dot products run
    * through the codegen'd [[graft.functions.DotProductQ]] (a custom
    * Catalyst expression), not interpreted HOF lambdas: this loop runs
    * once per CANDIDATE PAIR x dims in every re-rank stage.
    */
  def cosineQ(a: Column, b: Column): Column = {
    import graft.functions.DotProductQ.dotQ
    val dot = dotQ(a, b).cast("double")
    val na = dotQ(a, a).cast("double")
    val nb = dotQ(b, b).cast("double")
    dot / (sqrt(na) * sqrt(nb))
  }
}
