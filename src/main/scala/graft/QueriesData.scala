package graft

import graft.ann.Knn
import graft.dedup.{Components, Dedup}
import graft.operators.{Drift, Eval, GroupOps, Privacy}
import graft.text.Sharding
import graft.multimodal.Multimodal
import graft.text.TextOps
import graft.io.{ImageTable, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline ops over documents/embeddings (+ the
  * generated image table for multimodal plumbing).
  */
object QueriesData {

  import QueriesCore.tbl

  /** documents with a deterministic block of near-duplicates appended:
    * every 10th doc re-appears (id + 1e6) with its first token dropped.
    */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    val dups = d.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        // drop the first token -> high-Jaccard near-duplicate
        expr("substring(text, instr(text, ' ') + 1)").as("text"),
        col("lang"), col("source"), col("n_chars"))
    d.unionByName(dups)
  }
  private val docsWithDupsSql =
    """SELECT * FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text[strpos(text, ' ') + 1:],
      |       lang, source, n_chars
      |FROM documents WHERE doc_id % 10 = 0""".stripMargin

  /** exact-dup corpus: every 7th doc duplicated verbatim. */
  private def docsWithExact(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
  }

  /** Deterministic image table with REAL magic bytes prepended for
    * png/jpeg rows (so sniffing is meaningful), materialised to a fixed
    * parquet path and read back — BOTH engines then see identical
    * bytes, flipping the multimodal queries from rows-only to
    * value-exact oracles.
    */
  /** The q208/q210 planted near-dup batch over a (id, phash) corpus
    * frame — shared by the batch index query and its streaming-ingest
    * twin so both run the literally identical input (and the one
    * oracle string certifies both).
    */
  private[graft] def phashBatchOf(base: DataFrame): DataFrame =
    base.filter(col("id") % 8 === 0)
      .select((col("id") + 1000000L).as("id"),
        col("phash").bitwiseXOR(lit(257L)).as("phash"))
      .unionByName(base.filter(col("id") % 8 === 3)
        .select((col("id") + 1000000L).as("id"),
          col("phash").bitwiseXOR(lit(-1L)).as("phash")))
      .unionByName(base.filter(col("id") % 16 === 0)
        .select((col("id") + 2000000L).as("id"),
          col("phash").bitwiseXOR(lit(259L)).as("phash")))

  /** SDXL-style aspect-ratio ladder used by q209 (ratios 0.33..3). */
  private[graft] val AspectLadder: Seq[(Int, Int)] = Seq(
    (512, 512), (576, 448), (448, 576), (640, 384), (384, 640),
    (704, 320), (320, 704), (768, 256), (256, 768))

  /** Write-once (round 6): the fixture is the DETERMINISTIC shared
    * input both engines read — a pure function of (n, generator
    * version) — so re-materializing byte-identical parquet on every
    * bench rep timed the test scaffold, not the operator under test.
    * The marker records (n, version); any parameter or generator
    * change rewrites the fixture (the same content-keyed build-once
    * contract as the q93 minhash index). Nothing derived from the
    * query inputs or results is ever stored — only the generated
    * INPUT the oracle must also see.
    */
  private val OracleImagesVersion = "v1"
  private[graft] def oracleImages(s: SparkSession, n: Long,
      path: String): DataFrame = {
    val key = s"$OracleImagesVersion:n=$n"
    val marker = java.nio.file.Paths.get(path, "_GRAFT_FIXTURE")
    val upToDate = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker).trim == key
    if (!upToDate) {
      val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47,
        0x0D, 0x0A, 0x1A, 0x0A)
      val jpegMagic = Array[Byte](0xFF.toByte, 0xD8.toByte)
      ImageTable.images(s, n)
        .withColumn("bytes",
          when(col("fmt") === "png", concat(lit(pngMagic), col("bytes")))
            .when(col("fmt") === "jpeg",
              concat(lit(jpegMagic), col("bytes")))
            .otherwise(col("bytes")))
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.writeString(marker, key)
    }
    s.read.parquet(path)
  }

  /** Shared q220/q225 ingest fixture: the stored corpus (written
    * deterministically to the q220 oracle path) and the incoming
    * batch — relabeled exact copies (+1e6, every 10th), 2x png
    * rematerializations (+2e6, every 10th+5), and genuinely new
    * renders (+5e6, fresh seed). Both the one-shot and the streaming
    * ingest query derive from this, so the streaming run certifies
    * against LITERALLY the q220 oracle.
    */
  private[graft] def ingestFixture(s: SparkSession)
      : (DataFrame, DataFrame) = {
    val path = "/tmp/graft_oracle_images_q220"
    ImageTable.imagesReal(s, 300).write.mode("overwrite").parquet(path)
    val corpus = s.read.parquet(path)
      .withColumn("id", expr("CAST(substring(image_id, 5) AS BIGINT)"))
    val copies = corpus.filter(col("id") % 10 === 0)
      .withColumn("id", col("id") + 1000000L)
    val ups = Multimodal.resizeEncode(
      corpus.filter(col("id") % 10 === 5 && col("fmt") === "png")
        .withColumn("tw", col("w") * 2)
        .withColumn("th", col("h") * 2),
      "tw", "th").drop("tw", "th")
      .withColumn("id", col("id") + 2000000L)
    val fresh = ImageTable.imagesReal(s, 40, seed = 77)
      .withColumn("id",
        expr("CAST(substring(image_id, 5) AS BIGINT)") + 5000000L)
    (corpus, copies.unionByName(ups).unionByName(fresh))
  }

  /** `base` (an [[ImageTable.imagesReal]] table) with planted payload
    * classes, decided by the numeric image id: with `corrupt`, every
    * 13th payload becomes two garbage bytes; every other 20th becomes
    * a constant-gray png of the same dims.
    */
  private def plantedImages(base: DataFrame, corrupt: Boolean)
      : DataFrame = {
    val schema = base.schema
    val idIdx = schema.fieldIndex("image_id")
    val bIdx = schema.fieldIndex("bytes")
    val fIdx = schema.fieldIndex("fmt")
    val wIdx = schema.fieldIndex("w")
    val hIdx = schema.fieldIndex("h")
    graft.core.Kernel.map(base, schema) { it =>
      it.map { r =>
        val id = r.getString(idIdx).drop(4).toLong
        if (corrupt && id % 13 == 0)
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(bIdx, Array[Byte](9, 9)))
        else if (id % 20 == 0) {
          val w = r.getInt(wIdx); val h = r.getInt(hIdx)
          val px = Array.fill(w * h)(0xFF808080)
          val bytes = graft.validate.PixelCheck.encode(
            graft.validate.PixelCheck.toImage(px, w, h), "png")
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.updated(bIdx, bytes).updated(fIdx, "png"))
        } else r
      }
    }
  }

  /** The q367/q368 image-funnel pool: 400 real-codec images with every
    * 13th payload corrupted and every other 20th flattened to constant
    * gray, plus a lossless png transcode copy (id + 1e6) of every 10th
    * image that is neither.
    */
  private def funnelPool(s: SparkSession): DataFrame = {
    val base = ImageTable.imagesReal(s, 400)
    val dupClass = expr("CAST(substring(image_id, 5) AS BIGINT)")
    val copies = Multimodal.transcode(
      base.filter(dupClass % 13 =!= 0 && dupClass % 20 =!= 0 &&
        dupClass % 10 === 0), "png")
      .withColumn("image_id", format_string("img_%010d",
        expr("CAST(substring(image_id, 5) AS BIGINT) + 1000000")))
    plantedImages(base, corrupt = true).unionByName(copies)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q388_supplier_profile" -> ((s, dir) => {
      // the behavioral-profile matrix's THIRD shape: supplier
      // temperament over lineitem — shipping burstiness, return-
      // flag mix, cadence regularity, flag-sequence predictability
      graft.operators.Behavior.profileMatrix(
        tbl(s, dir, "lineitem"), "l_suppkey", "l_shipdate",
        "l_returnflag",
        tieBreak = Seq("l_orderkey", "l_linenumber"))
        .select(col("l_suppkey"), col("n_gaps"),
          round(col("burstiness"), 6).as("burstiness"),
          col("n_types"),
          round(col("type_entropy"), 6).as("type_entropy"),
          round(col("cadence_norm_entropy"), 6)
            .as("cadence_norm_entropy"),
          round(col("predictability_norm"), 6)
            .as("predictability_norm"))
        .orderBy("l_suppkey")
    }),

    "q387_supplier_burstiness" -> ((s, dir) => {
      // q279's gap-moment operator on the lineitem shape: supplier
      // shipping temperament
      graft.operators.Behavior.interArrivalStats(
        tbl(s, dir, "lineitem"), "l_suppkey", "l_shipdate")
        .select(col("l_suppkey"), col("n_gaps"),
          round(col("mean_gap_s"), 6).as("mean_gap_s"),
          round(col("std_gap_s"), 6).as("std_gap_s"),
          round(col("cv_gap"), 6).as("cv_gap"),
          round(col("burstiness"), 6).as("burstiness"))
        .orderBy("l_suppkey")
    }),

    "q392_segment_screen" -> ((s, dir) => {
      // q176's chi2/MI screen on the customer shape: does market
      // segment carry signal about the deterministic even-key label
      Eval.chiSqMutualInfo(
        tbl(s, dir, "customer")
          .withColumn("y", (col("c_custkey") % 2 === 0).cast("int")),
        "c_mktsegment", "y")
        .select(col("level"), col("n_pos"), col("n_neg"),
          round(col("chi2_term"), 6).as("chi2_term"),
          round(col("mi_term"), 6).as("mi_term"),
          col("chi2_total_nano"), col("mi_total_nano"))
        .orderBy("level")
    }),

    "q391_segment_pivot" -> ((s, dir) => {
      // q354's pivot on the customer shape: market-segment mix per
      // nation
      graft.operators.Behavior.typePivot(
        tbl(s, dir, "customer"), "c_nationkey", "c_mktsegment",
        Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"))
        .orderBy("c_nationkey")
    }),

    "q390_length_drift" -> ((s, dir) => {
      // q258's exact KS on the corpus shape: per-language document-
      // length drift between the even- and odd-id slices
      val d = tbl(s, dir, "documents")
      Drift.ksDrift(d.filter(col("doc_id") % 2 === 0),
        d.filter(col("doc_id") % 2 === 1), "lang", "n_chars")
        .select(col("key"), col("n_ref"), col("n_cur"),
          col("ks_num"), round(col("ks"), 6).as("ks"))
        .orderBy("key")
    }),

    "q386_supplier_gap_surprise" -> ((s, dir) => {
      // q332's PIT gap anomaly on a FIFTH shape: supplier shipping
      // cadence over lineitem, two-column tie-break
      graft.temporal.WindowOps.gapSurprise(
        tbl(s, dir, "lineitem"), "l_suppkey", "l_shipdate",
        tieBreak = Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("gap_us"), col("n_prior_gaps"),
          (col("mean_prior_gap_us") / 1e6).as("mean_prior_gap_s"),
          col("gap_surprise"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q385_brand_price_gini" -> ((s, dir) => {
      // q305's exact rank-form inequality on the part shape:
      // price concentration within each brand's catalog
      graft.operators.GroupOps.inequalityStats(
        tbl(s, dir, "part"), "p_brand", "p_retailprice")
        .select(col("p_brand"), col("n_obs"),
          round(col("gini"), 6).as("gini"),
          round(col("top_decile_share"), 6).as("top_decile_share"))
        .orderBy("p_brand")
    }),

    "q384_brand_type_mix" -> ((s, dir) => {
      // q290's diversity operator on a FOURTH shape: catalog
      // breadth per brand over the part table
      graft.operators.Behavior.typeMix(
        tbl(s, dir, "part"), "p_brand", "p_type")
        .select(col("p_brand"), col("n_events").as("n_parts"),
          col("n_types"),
          round(col("type_entropy"), 6).as("type_entropy"),
          col("top_type"),
          round(col("top_share"), 6).as("top_share"))
        .orderBy("p_brand")
    }),

    "q381_template_rate" -> ((s, dir) => {
      // which SOURCE ships boilerplate: share of each source's docs
      // whose sorted-token multiset re-occurs corpus-wide, over the
      // q353 reversed-twin construction — exact counts, one
      // division
      val docs = tbl(s, dir, "documents")
      val shuffled = docs
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"),
          concat_ws(" ", reverse(split(col("text"), " ")))
            .as("text"))
      val pool = docs.select("doc_id", "source", "text")
        .unionByName(shuffled)
        .filter(col("doc_id").isNotNull && col("text").isNotNull &&
          col("source").isNotNull)
        .withColumn("__sig",
          md5(concat_ws(" ", sort_array(split(col("text"), " ")))))
      val groups = pool.groupBy(col("__sig"))
        .agg(count(lit(1)).as("__gn"))
      pool.join(groups, Seq("__sig"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("__gn") >= 2, lit(1))).as("n_templated"))
        .select(col("source"), col("n_docs"), col("n_templated"),
          round(col("n_templated").cast("double") /
            col("n_docs").cast("double"), 6).as("templated_share"))
        .orderBy("source")
    }),

    "q380_lang_pivot" -> ((s, dir) => {
      // q354's pivot generality on the corpus shape: the per-source
      // language-mix matrix a curation dashboard reads first
      graft.operators.Behavior.typePivot(
        tbl(s, dir, "documents"), "source", "lang",
        Seq("en", "es", "de", "fr", "zh"))
        .orderBy("source")
    }),

    "q353_template_groups" -> ((s, dir) => {
      // permutation boilerplate: every 10th doc re-appears with its
      // tokens REVERSED (a pure permutation — invisible to exact
      // dedup); the sorted-multiset signature must group each twin
      // with its source. md5 of the sorted tokens, groups >= 2,
      // top-20 by exact size
      val docs = tbl(s, dir, "documents")
      val shuffled = docs
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), " ")))
            .as("text"))
      graft.text.TextOps.templateGroups(
        docs.select("doc_id", "text").unionByName(shuffled),
        "doc_id", "text", k = 20)
    }),

    "q352_token_pmi" -> ((s, dir) => {
      // far-beyond-chance co-occurrence: DF-pruned distinct token
      // pairs, exact counts, one ln chain; deterministic top-25
      graft.text.TextOps.tokenPmi(
        tbl(s, dir, "documents"), "doc_id", "text",
        minDf = 20L, maxDf = 400L, k = 25)
        .select(col("tok_a"), col("tok_b"), col("n_ab"),
          round(col("pmi"), 6).as("pmi"))
    }),

    "q346_vocab_growth" -> ((s, dir) => {
      // Heaps-law saturation: new-vocabulary count per 100-doc
      // slice — exact MIN first-sightings, integer div buckets.
      // The tiny synthetic vocabulary saturates in bucket 0, so
      // every 50th doc plants one genuinely new token to give the
      // curve a tail the oracle reproduces
      val planted = tbl(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 50 === 0,
            concat(col("text"), lit(" uniq"), col("doc_id")))
            .otherwise(col("text")))
      graft.text.TextOps.vocabularyGrowth(planted, "doc_id",
        "text", bucketSize = 100L)
        .orderBy("bucket")
    }),

    "q383_resolved_entities" -> ((s, dir) => {
      // the resolution table: one canonical id per fuzzy cluster
      // (the min label IS the canonical) with its alias count
      val edges = graft.dedup.Dedup.editDistancePairs(
        tbl(s, dir, "customer"), "c_custkey", "c_name")
      Components.connectedComponents(edges, "id_a", "id_b")
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_aliases"))
        .select(col("component").as("canonical_id"),
          col("n_aliases"))
        .orderBy("canonical_id")
    }),

    "q382_fuzzy_clusters" -> ((s, dir) => {
      // entity RESOLUTION: q342's edit-distance-1 pairs closed
      // into clusters by min-label propagation; the oracle replays
      // the closure with a recursive CTE over the EXHAUSTIVE
      // Levenshtein edge set
      val edges = graft.dedup.Dedup.editDistancePairs(
        tbl(s, dir, "customer"), "c_custkey", "c_name")
      Components.connectedComponents(edges, "id_a", "id_b")
        .orderBy("id")
    }),

    "q342_fuzzy_pairs" -> ((s, dir) => {
      // record linkage at edit distance <= 1 via deletion-
      // neighborhood blocking; the oracle is the EXHAUSTIVE all-
      // pairs Levenshtein join, so blocking recall is value-proven
      graft.dedup.Dedup.editDistancePairs(
        tbl(s, dir, "customer"), "c_custkey", "c_name")
        .orderBy("id_a", "id_b")
    }),

    "q40_dedup_exact" -> ((s, dir) => {
      Dedup.exact(docsWithExact(s, dir), Seq("text"), "doc_id")
        .select("doc_id", "text").orderBy("doc_id")
    }),

    "q41_dedup_minhash_lsh" -> ((s, dir) => {
      // value-exact vs an EXHAUSTIVE all-pairs Jaccard oracle: the
      // verify stage outputs true Jaccard (engine-reproducible), and
      // on this corpus every true pair has J >= 0.889, where the
      // 8-band/4-row LSH band-hit probability is >= 0.9996 — the
      // deterministic run finds all of them, so the oracle also
      // certifies 100% candidate recall, not just verification math
      Dedup.minhashNearDups(docsWithDups(s, dir), "doc_id", "text",
        threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)
          .as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "q42_dedup_ngram_jaccard" -> ((s, dir) => {
      // blocked pairwise 3-gram Jaccard, oracle-checkable
      val d = docsWithDups(s, dir).withColumn("blk", col("doc_id") % 50)
      Dedup.blockedJaccard(d, "doc_id", "text", "blk")
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)
          .as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "q43_dedup_simhash" -> ((s, dir) => {
      // value-exact: the md5-derived 60-bit token hash is reproducible
      // in the oracle (hex digits -> BIGINT); production paths keep the
      // cheaper xxhash64 default — simhash quality is hash-agnostic
      Dedup.simhashes(docsWithDups(s, dir), "doc_id", "text",
        tokenHash = Dedup.md5Hash60, nBits = 60)
        .groupBy("simhash").agg(count(lit(1)).as("n"),
          min("__id").as("keep_id"))
        .filter(col("n") > 1)
        .orderBy("keep_id")
    }),

    "q44_dedup_embedding" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
        .withColumn("blk", col("label"))
      Dedup.embeddingNearDups(e, "vec_id", "embedding", "blk",
        threshold = 0.25)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6)
          .as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    "q154_cluster_weights" -> ((s, dir) => {
      // SemDeDup-style duplication-aware sampling weights: 1/|cluster|
      // per near-dup cluster member, singletons 1.0 — the soft dedup
      // that gives each duplicated PAGE one page of sampling mass.
      // Oracle recomputes the closure + integer-count division
      val d = docsWithDups(s, dir)
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.5)
      Components.clusterSizeWeights(d, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id"),
          round(col("sample_weight"), 6).as("sample_weight"))
        .orderBy("doc_id")
    }),

    "q145_dedup_keep_best" -> ((s, dir) => {
      // dedup keeping the BEST copy per near-dup cluster by a numeric
      // quality score (highest wins, ties -> smallest id) — production
      // curation keeps the longest/highest-quality member, not the
      // accidentally-smallest id. The score here is the deterministic
      // mixHash (a stand-in for any quality metric) so the winner
      // provably differs from the min-id rule on ~half the clusters;
      // edges are the engine's minhash pairs at 0.5 (q83 certifies
      // they equal the exhaustive truth on this corpus)
      val d = docsWithDups(s, dir)
        .withColumn("sc", Sharding.mixHash(col("doc_id")))
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.5)
      Components.dedupByComponentsBest(d, "doc_id", pairs,
        "id_a", "id_b", "sc")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q144_leakage_safe_split" -> ((s, dir) => {
      // leakage-safe split: split key = near-dup CLUSTER label, so a
      // duplicated page can never sit in train AND test. Edges are the
      // engine's minhash-LSH pairs at 0.5 (q83 certifies they equal
      // the exhaustive all-pairs truth on this corpus); the oracle
      // recomputes the closure + the identical md5 split rule
      val d = docsWithDups(s, dir)
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.5)
      Components.leakageSafeSplit(d, "doc_id", pairs, "id_a", "id_b",
        salt = "lsplit", Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q143_ngram_containment" -> ((s, dir) => {
      // ASYMMETRIC near-dup: containment(src->dst) = |shingles shared|
      // / |src shingles| — catches the suffix twins (a twin is ~fully
      // contained in its original while Jaccard could dilute). The
      // oracle recomputes the same df-pruned candidate rule + exact
      // set math, so candidates AND both directed values are certified
      Dedup.containmentPairs(docsWithDups(s, dir), "doc_id", "text",
        n = 3, threshold = 0.8, maxDf = 100)
        .select(col("src_id"), col("dst_id"),
          round(col("containment"), 6).as("containment"))
        .orderBy("src_id", "dst_id")
    }),

    "q142_dedup_embedding_ivf" -> ((s, dir) => {
      // embedding near-dup with NO given blocking key: IVF coarse
      // assignment to the nearest of 8 deterministic seed centroids
      // (smallest vec_ids), then quantized-cosine pairs within cells.
      // The oracle recomputes the identical assignment rule in SQL, so
      // this certifies both the cell assignment and the pair math.
      Dedup.embeddingNearDupsIvf(tbl(s, dir, "embeddings"),
        "vec_id", "embedding", nSeeds = 8, threshold = 0.25)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6)
          .as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    "q45_knn_bruteforce" -> ((s, dir) => {
      val e = tbl(s, dir, "embeddings")
      Knn.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q46_knn_lsh" -> ((s, dir) => {
      // the DEFAULT lshTopK call: planes come from Knn.defaultPlanes
      // (deterministic seed -> integer literals), so the whole search
      // — signature bits, banded bucket join, exact rerank — is
      // integer/quantized arithmetic the oracle recomputes from the
      // SAME plane values. Value-exact; recall vs brute force is
      // measured separately in DedupKnnSpec.
      val e = tbl(s, dir, "embeddings")
      Knn.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q60_knn_ivf" -> ((s, dir) => {
      // IVF with a PINNED 8-centroid coarse quantizer (q97's shape at
      // different nlist/nprobe/k): list assignment, probing and exact
      // rerank are quantized-integer arithmetic the oracle recomputes.
      // The Lloyd FIT itself (ivfBuild) is floating-point and not
      // SQL-reproducible — it is covered by DedupKnnSpec's recall and
      // pinned-golden tests instead.
      val e = tbl(s, dir, "embeddings")
      val model = Knn.IvfModel(PinnedIvf8.cents)
      val lists = Knn.ivfLists(model, e, "vec_id", "embedding")
      Knn.ivfQuery(model, lists, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, nprobe = 3)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q73_curation_funnel" -> ((s, dir) => {
      // the end-to-end training-data curation funnel every LLM corpus
      // goes through, as ONE composed plan: exact dedup (normalized
      // fingerprint) -> language ID -> quality gate -> token stats.
      // The dedup is a map-side-combined fingerprint agg + id
      // semi-join (hot-content safe); everything after it is pure
      // projection over the surviving rows
      val d = docsWithExact(s, dir)
        .withColumn("fp", TextOps.fingerprintMd5(col("text")))
      val deduped = Dedup.exact(d, Seq("fp"), "doc_id")
      // round 6: ALL text signals (lang, quality, both token counts)
      // from the one-pass kernel — the Column formulation re-split
      // each surviving text ~20x once filter pushdown duplicated the
      // interpreted stopword HOFs above and below the quality gate
      TextOps.withTextSignals(deduped, "text")
        .filter(col("__ts_lang_pred") =!= "unknown" &&
          col("__ts_quality") >= 0.5)
        .select(col("doc_id"), col("__ts_lang_pred").as("lang_pred"),
          round(col("__ts_quality"), 6).as("quality"),
          col("__ts_ws_tokens").as("ws_tokens"),
          col("__ts_bpeish_tokens").as("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    "q47_lang_id" -> ((s, dir) => {
      // stays on the Column langId: a single-consumer projection has
      // no duplication to save, and the kernel's Row round-trip
      // measured slower here (round 6)
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q48_quality_score" -> ((s, dir) => {
      TextOps.withTextSignals(tbl(s, dir, "documents"), "text")
        .select(col("doc_id"),
          col("__ts_n_chars_q").as("n_chars_q"),
          col("__ts_n_tokens").as("n_tokens"),
          col("__ts_punct_ratio").as("punct_ratio"),
          col("__ts_stopword_ratio").as("stopword_ratio"),
          col("__ts_mean_token_len").as("mean_token_len"),
          col("__ts_quality").as("quality"))
        .orderBy("doc_id")
    }),

    "q160_quality_gate" -> ((s, dir) => {
      // per-language p75 quality gate: keep each language's top
      // quartile by the q48 composite score — a per-group threshold so
      // no language's distribution sets the bar for another. Exact
      // per-group np.interp thresholds, broadcast-join filter
      val scored = TextOps.withTextSignals(
        tbl(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"),
          col("__ts_quality").as("quality"))
      graft.operators.GroupOps.filterByGroupQuantile(
        scored, "lang", "quality", prob = 0.75)
        .select(col("doc_id"), col("lang"),
          round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")
    }),

    "q49_token_count" -> ((s, dir) => {
      // stays on the Column counters (no HOFs, no duplication — the
      // kernel's Row round-trip measured slower here, round 6)
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeishCount(col("text")).as("bpeish_tokens"))
        .orderBy("doc_id")
    }),

    "q50_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.fingerprintMd5(col("text")).as("fp_md5"))
        .orderBy("doc_id")
    }),

    "q61_winnow_fingerprint" -> ((s, dir) => {
      // MOSS winnowing (k=8 char grams, window w=4) — the rolling-hash
      // local fingerprint; value-exact: the base-131 polynomial hash is
      // plain int64 arithmetic DuckDB reproduces digit-for-digit
      TextOps.winnowFingerprints(
        tbl(s, dir, "documents"), "doc_id", "text", k = 8, w = 4)
        .orderBy("doc_id", "fp")
    }),

    "q51_multimodal_meta" -> ((s, dir) => {
      // payload metadata without decode — pure projection over binary.
      // The generated table is WRITTEN to a fixed parquet path first so
      // the DuckDB oracle reads the exact same input (it can't see
      // in-session generators).
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q51")
      Multimodal.payloadMeta(imgs)
        .select(col("image_id"), col("payload_bytes").cast("long")
            .as("payload_bytes"),
          col("sniffed_fmt"), col("bytes_per_pixel"))
        .orderBy("image_id")
    }),

    "q124_ahash_transcode" -> ((s, dir) => {
      // pixels -> perceptual hash, closed loop: every 10th payload is
      // TRANSCODED to a bit-different container (lossless PNG of the
      // decoded pixels); the computed aHash must be IDENTICAL for each
      // twin pair — decode + block-average + threshold are functions
      // of the pixel matrix alone, not the container
      val base = ImageTable.imagesReal(s, 150)
      val dups = Multimodal.transcode(
        base.filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0")),
        "png")
        .withColumn("image_id", concat(col("image_id"), lit("_d")))
      val hashed = Multimodal.averageHash(base.unionByName(dups))
        .select(col("image_id"), col("ahash"), col("ahash_ok"))
      val twins = hashed.filter(col("image_id").endsWith("_d"))
        .select(expr("substring(image_id, 1, 14)").as("image_id"),
          col("ahash").as("ahash_d"), col("ahash_ok").as("ok_d"))
      hashed.join(twins, "image_id")
        .select(col("image_id"),
          (col("ahash") === col("ahash_d") && col("ahash_ok") &&
            col("ok_d")).as("hash_invariant"))
        .orderBy("image_id")
    }),

    "q187_channel_norm_invariant" -> ((s, dir) => {
      // corpus channel-normalization plumbing, closed loop: every
      // 10th payload is losslessly transcoded (PNG of the decoded
      // pixels); the per-image INTEGER channel sums/sums-of-squares
      // feeding channelNormalization must be bit-identical for each
      // twin pair — they are functions of the pixel matrix alone
      val base = ImageTable.imagesReal(s, 150)
      val twins = Multimodal.transcode(
        base.filter(
          expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0")),
        "png")
        .withColumn("image_id", concat(col("image_id"), lit("_d")))
      val stats = Multimodal.channelStats(base.unionByName(twins))
      val d = stats.filter(col("image_id").endsWith("_d"))
        .select(expr("substring(image_id, 1, 14)").as("image_id"),
          col("n_px").as("n2"), col("r_sum").as("r2"),
          col("g_sum").as("g2"), col("b_sum").as("b2"),
          col("r_sq").as("rq2"), col("g_sq").as("gq2"),
          col("b_sq").as("bq2"), col("channels_ok").as("ok2"))
      stats.join(d, "image_id")
        .select(col("image_id"),
          (col("n_px") === col("n2") && col("r_sum") === col("r2") &&
            col("g_sum") === col("g2") && col("b_sum") === col("b2") &&
            col("r_sq") === col("rq2") && col("g_sq") === col("gq2") &&
            col("b_sq") === col("bq2") && col("channels_ok") &&
            col("ok2")).as("sums_invariant"))
        .orderBy("image_id")
    }),

    "q121_grouped_hist_sketch" -> ((s, dir) => {
      // per-group histogram quantiles, fully distributed readout
      // (nothing collected): window buffering bounded by bins per key,
      // immune to all-distinct hot keys
      graft.core.Sketch.groupedHistQuantiles(
        QueriesCore.tbl(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice",
        Seq(0.25, 0.5, 0.95), bins = 256)
        .select(col("l_returnflag"), col("prob"),
          round(col("value"), 6).as("value"))
        .orderBy("l_returnflag", "prob")
    }),

    "q120_payload_quarantine" -> ((s, dir) => {
      // the image-ingest quality gate end to end: real-codec table
      // with every 25th payload deterministically truncated -> the
      // distributed audit -> quarantine split. The oracle knows
      // exactly which ids were corrupted, so the audit's decode
      // verdicts (not just the happy path) are value-checked
      val path = "/tmp/graft_oracle_images_q120"
      ImageTable.imagesReal(s, 300)
        .withColumn("bytes",
          when(expr("CAST(substring(image_id, 5) AS BIGINT) % 25 = 0"),
            expr("substring(bytes, 1, 3)")) // truncated stream
            .otherwise(col("bytes")))
        .write.mode("overwrite").parquet(path)
      Multimodal.auditPayloads(s.read.parquet(path), seed = 42)
        .filter(col("pixels_ok"))
        .select("image_id").orderBy("image_id")
    }),

    "q119_unigram_surprisal" -> ((s, dir) => {
      // perplexity-style quality signal: self-scored unigram LM,
      // avg -ln p(term) per document — round(6) absorbs aggregate-
      // order ulp drift in the per-doc mean
      TextOps.unigramSurprisal(tbl(s, dir, "documents"),
        "doc_id", "text")
        .select(col("doc_id"), round(col("surprisal"), 6)
          .as("surprisal"))
        .orderBy("doc_id")
    }),

    "q118_zorder_layout" -> ((s, dir) => {
      // Z-order (Morton) layout keys: deterministic bit math over
      // range-bucketized (l_quantity, l_extendedprice) — the
      // multi-dimensional file-pruning sort key, value-exact vs an
      // oracle that re-derives every interleaved bit in SQL
      val li = QueriesCore.tbl(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "l_extendedprice")
      graft.io.Layout.zorder(li,
        Seq("l_quantity", "l_extendedprice"), bits = 8)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("__z").as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q117_hashed_tf" -> ((s, dir) => {
      // stateless feature-hashing vectorizer (hashing trick, signed):
      // no vocabulary fit, one explode + one map-side-combined groupBy.
      // 128 buckets force real collisions so the +-1 cancellation path
      // is exercised, not just the happy path
      TextOps.hashedTfVector(tbl(s, dir, "documents"), "doc_id", "text",
        numFeatures = 128, signed = true, hashName = "md5")
        .orderBy("doc_id", "bucket")
    }),

    "q115_payload_audit" -> ((s, dir) => {
      // REAL-codec distributed payload-integrity audit (the
      // BASELINE.json per-row invariant): imagesReal encodes actual
      // PNG/JPEG payloads of the deterministic render executor-side;
      // auditPayloads decodes them back per partition and asserts
      // png = exact pixels, jpeg = PSNR >= 40 dB; caption equality is
      // re-asserted relationally against the regenerated expectation.
      // The driver oracle then certifies every row passed: any decode
      // drift, payload corruption or caption mangling hash-mismatches.
      val path = "/tmp/graft_oracle_images_q115"
      ImageTable.imagesReal(s, 400).write.mode("overwrite").parquet(path)
      val imgs = s.read.parquet(path)
      Multimodal.auditPayloads(imgs, seed = 42)
        .withColumn("caption_ok",
          col("caption") === ImageTable.expectedCaption(42,
            expr("CAST(substring(image_id, 5) AS BIGINT)")))
        .select(col("image_id"), col("fmt"), col("decoded_w"),
          col("decoded_h"), col("pixels_ok"), col("caption_ok"))
        .orderBy("image_id")
    }),

    "q62_phash_neardup" -> ((s, dir) => {
      // image dedup over the phash column ONLY — payload bytes never
      // enter the plan. Near-dups injected deterministically: every
      // 10th image re-appears with phash bits 0 and 8 flipped
      // (Hamming distance 2); banded join must recover exactly those
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q62")
      val base = imgs.select(col("image_id"), col("phash"))
      val dups = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"))
      Multimodal.phashNearDups(base.unionByName(dups),
        "image_id", "phash", maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    "q336_crop_neardup" -> ((s, dir) => {
      // exact crop provenance end to end: every 10th real-codec
      // image's top-left quadrant is cropped out and re-encoded
      // losslessly (the "stolen region" class full-image hashing
      // misses); the tile-fingerprint equi-join must recover the
      // (crop, source, tile 0) pairs — which, by the deterministic
      // render, are exactly the sources sharing the crop's
      // (w, h, id mod 7, id mod 11, fmt) pixel identity. The /tmp
      // dump feeds the oracle those five columns; decoded content
      // drives the Spark side
      oracleImages(s, 300, "/tmp/graft_oracle_images_q336")
      val base = ImageTable.imagesReal(s, 300)
      val sources = Multimodal.tileFingerprint(base, grid = 2)
        .select(col("image_id"), col("tile_fps"), col("tiles_ok"))
      val cropPlan0 = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .withColumn("cx", lit(0)).withColumn("cy", lit(0))
        .withColumn("cw", (col("w") / 2).cast("int"))
        .withColumn("ch", (col("h") / 2).cast("int"))
      // second class: bottom-right tile (idx 3) with its ceil-half
      // dims — exercises the non-origin tile-bound math
      val cropPlan3 = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 5"))
        .withColumn("cx", (col("w") / 2).cast("int"))
        .withColumn("cy", (col("h") / 2).cast("int"))
        .withColumn("cw", col("w") - col("cx"))
        .withColumn("ch", col("h") - col("cy"))
      val crops = Multimodal
        .cropEncode(cropPlan0.unionByName(cropPlan3),
          "cx", "cy", "cw", "ch")
        .select(concat(col("image_id"), lit("_c")).as("image_id"),
          col("bytes"), col("fmt"))
      val hashed = Multimodal.tileFingerprint(crops, grid = 1)
        .filter(col("tiles_ok"))
        .select(col("image_id").as("crop_id"),
          element_at(col("tile_fps"), 1).as("crop_fp"))
      Multimodal.cropExactDups(sources, "image_id", hashed,
        "crop_id", "crop_fp")
        .orderBy("crop_id", "src_id", "tile_idx")
    }),

    "q367_image_funnel" -> ((s, dir) => {
      // the end-to-end IMAGE curation funnel, the image twin of
      // q73's text funnel, as ONE composed pipeline over planted
      // classes: every 13th payload corrupted (quarantined by the
      // decode gate), every 20th flattened to constant gray
      // (dropped by the luma gate), every 10th survivor duplicated
      // as a lossless PNG transcode (dropped by exact pixel-
      // fingerprint dedup, keep-smallest-id). The oracle predicts
      // the surviving set from the construction alone — including
      // genuinely identical renders, which it detects from the
      // dumped (w, h, phase, fmt) identity
      oracleImages(s, 400, "/tmp/graft_oracle_images_q367")
      val pool = funnelPool(s)
      // gates 1+2: ONE decode pass flags undecodable and flat
      val audited = Multimodal.lumaStats(pool, flatStd = 2.0)
      val aliveIds = audited
        .filter(col("luma_ok") && !col("flat")).select("image_id")
      // gate 3: exact pixel dedup among survivors only (the second
      // decode is semi-join-restricted, the q93 pattern)
      val alive = pool.join(aliveIds, Seq("image_id"))
      val fp = Multimodal.tileFingerprint(alive, grid = 1)
        .filter(col("tiles_ok"))
        .select(col("image_id"),
          element_at(col("tile_fps"), 1).as("fp"))
      graft.dedup.Dedup.exact(fp, Seq("fp"), "image_id")
        .select("image_id").orderBy("image_id")
    }),

    "q368_image_funnel_report" -> ((s, dir) => {
      // q367's dashboard row: exact stage attrition counts from
      // the same composed pipeline — pool, quarantined (decode
      // gate), flat (luma gate), dedup-dropped, kept
      oracleImages(s, 400, "/tmp/graft_oracle_images_q368")
      val pool = funnelPool(s)
      val audited = Multimodal.lumaStats(pool, flatStd = 2.0)
      val stageCounts = audited.agg(
        count(lit(1)).as("n_pool"),
        count(when(!col("luma_ok"), lit(1))).as("n_quarantined"),
        count(when(col("luma_ok") && col("flat"), lit(1)))
          .as("n_flat"),
        count(when(col("luma_ok") && !col("flat"), lit(1)))
          .as("__n_alive"))
      val aliveIds = audited
        .filter(col("luma_ok") && !col("flat")).select("image_id")
      val alive = pool.join(aliveIds, Seq("image_id"))
      val fp = Multimodal.tileFingerprint(alive, grid = 1)
        .filter(col("tiles_ok"))
        .select(col("image_id"),
          element_at(col("tile_fps"), 1).as("fp"))
      val kept = graft.dedup.Dedup.exact(fp, Seq("fp"), "image_id")
        .agg(count(lit(1)).as("n_kept"))
      stageCounts.crossJoin(broadcast(kept))
        .select(col("n_pool"), col("n_quarantined"), col("n_flat"),
          (col("__n_alive") - col("n_kept")).as("n_dedup_dropped"),
          col("n_kept"))
    }),

    "q195_caption_consistency" -> ((s, dir) => {
      // "same pixels, different caption" audit: the q62 near-dup
      // twins carry three caption fates — identical (%10), case
      // drift (%20 -> equal_norm only), real drift (%40 ' v2' ->
      // neither) — and every pair's verdicts are certified
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q195")
      val base = imgs.select(col("image_id"), col("phash"),
        col("caption"))
      val dups = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"),
          expr("""CASE
            WHEN CAST(substring(image_id, 5) AS BIGINT) % 40 = 0
              THEN caption || ' v2'
            WHEN CAST(substring(image_id, 5) AS BIGINT) % 20 = 0
              THEN upper(caption)
            ELSE caption END""").as("caption"))
      Multimodal.captionConsistency(base.unionByName(dups),
        "image_id", "phash", "caption", maxDist = 3)
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("caption_equal"), col("caption_equal_norm"))
        .orderBy("id_a", "id_b")
    }),

    "q203_caption_jaccard" -> ((s, dir) => {
      // graded caption agreement over the q195 twins: identical
      // captions score 1, the ' v2'-suffixed real drift scores
      // strictly between 0 and 1, case drift is identity after
      // lowercasing — exact set arithmetic, one division
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q203")
      val base = imgs.select(col("image_id"), col("phash"),
        col("caption"))
      val dups = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"),
          expr("""CASE
            WHEN CAST(substring(image_id, 5) AS BIGINT) % 40 = 0
              THEN caption || ' v2'
            WHEN CAST(substring(image_id, 5) AS BIGINT) % 20 = 0
              THEN upper(caption)
            ELSE caption END""").as("caption"))
      Multimodal.captionTokenJaccard(base.unionByName(dups),
        "image_id", "phash", "caption", maxDist = 3)
        .select(col("id_a"), col("id_b"),
          round(col("caption_jaccard"), 6).as("caption_jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "q207_patch_pack" -> ((s, dir) => {
      // multimodal context packing: ViT patch tokens (ceil(w/14) *
      // ceil(h/14), integer div) + whitespace caption tokens + 2
      // separators per pair, packed into 256-token blocks via the
      // two-phase cumsum — all-integer math the oracle mirrors exactly
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q207")
        .select("image_id", "w", "h", "caption") // payload never rides
      Multimodal.packPatchBlocks(imgs, "image_id", "w", "h",
        "caption", patch = 14, blockSize = 256)
        .select("image_id", "img_tokens", "txt_tokens", "tokens",
          "cum_before", "start_block", "start_offset", "end_block")
        .orderBy("image_id")
    }),

    "q208_phash_index" -> ((s, dir) => {
      // incremental image near-dup: corpus indexed ONCE (pigeonhole
      // band rows through SnapshotStore), then a batch with three
      // planted relations — Hamming-2 twins of every 8th corpus image
      // (xor 257), all-bits-flipped far rows (xor -1, must NOT pair),
      // and second twins (xor 259) that pair with the corpus at d=3
      // AND with the first twin at d=1 batch-internally. The oracle is
      // the exhaustive all-pairs truth restricted to pairs touching
      // the batch; the index query itself never reads the image table.
      val imgs = oracleImages(s, 400, "/tmp/graft_oracle_images_q208")
      val base = imgs.select(
        expr("CAST(substring(image_id, 5) AS BIGINT)").as("id"),
        col("phash"))
      val root = java.nio.file.Files
        .createTempDirectory("graft_q208_idx").toString
      graft.multimodal.PhashIndex.build(base, "id", "phash", root)
      graft.multimodal.PhashIndex
        .batchNearDups(phashBatchOf(base), "id", "phash", root,
          maxDist = 3)
        .orderBy("id_a", "id_b")
    }),

    "q209_aspect_buckets" -> ((s, dir) => {
      // explicit-ladder aspect snap (vs q172's derived milli-band
      // buckets): exact integer cross-product argmin, rank inside
      // each ladder bucket by the shared two-phase rank, fixed
      // 16-image batches, center-crop waste from exact integer
      // operands
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q209")
        .select("image_id", "w", "h") // payload never rides the rank
      graft.multimodal.AspectBatch.snapToLadder(imgs, "image_id",
        "w", "h", AspectLadder, batchSize = 16)
        .select("image_id", "bucket_idx", "bucket_w", "bucket_h",
          "rank_in_bucket", "batch_idx", "crop_frac")
        .orderBy("image_id")
    }),

    "q211_image_dedup_e2e" -> ((s, dir) => {
      // the image-side q83: phash near-dup pairs -> connected
      // components -> KEEP-BEST canonical per cluster (highest pixel
      // count, tie -> smallest id). The q208 twins get dims: the
      // xor-259 second twin is upsampled 2x, so it must DETHRONE the
      // original as its cluster's canonical; equal-pixel clusters fall
      // back to the smallest id; far rows survive as singletons.
      val imgs = oracleImages(s, 400, "/tmp/graft_oracle_images_q208")
      val base = imgs.select(
        expr("CAST(substring(image_id, 5) AS BIGINT)").as("id"),
        col("phash"), col("w"), col("h"))
      val full = base
        .unionByName(base.filter(col("id") % 8 === 0)
          .select((col("id") + 1000000L).as("id"),
            col("phash").bitwiseXOR(lit(257L)).as("phash"),
            col("w"), col("h")))
        .unionByName(base.filter(col("id") % 8 === 3)
          .select((col("id") + 1000000L).as("id"),
            col("phash").bitwiseXOR(lit(-1L)).as("phash"),
            col("w"), col("h")))
        .unionByName(base.filter(col("id") % 16 === 0)
          .select((col("id") + 2000000L).as("id"),
            col("phash").bitwiseXOR(lit(259L)).as("phash"),
            (col("w") * 2).as("w"), (col("h") * 2).as("h")))
        .withColumn("px", col("w").cast("long") * col("h"))
      val pairs = Multimodal.phashNearDups(full, "id", "phash",
        maxDist = 3)
      graft.dedup.Components.dedupByComponentsBest(full, "id",
        pairs, "id_a", "id_b", "px")
        .select("id", "w", "h")
        .orderBy("id")
    }),

    "q212_epoch_shuffle" -> ((s, dir) => {
      // deterministic per-epoch reshuffle: dense position = rank of
      // (epochHash(id, 3), id), reproducible in any engine with
      // 64-bit modular arithmetic — the oracle replays the identical
      // two-round Knuth mix as a window row_number
      graft.text.Sharding.epochShuffle(
        tbl(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", epoch = 3)
        .select("doc_id", "n_chars", "shuffle_pos")
        .orderBy("doc_id")
    }),

    "q213_pair_psnr_verify" -> ((s, dir) => {
      // graded SECOND stage of image dedup: phash banding proposes
      // candidate pairs from the hash column alone; this decodes ONLY
      // the candidates and scores exact pairwise PSNR — the BASELINE
      // per-row invariant (PSNR >= 40 dB lossy / exact lossless)
      // applied pairwise. Three pair fates certified by id pattern:
      // (i, i+1e6) relabeled exact copies -> dup; (i, i+2e6)
      // first-generation jpeg re-encodes of png originals -> dup (the
      // q115-proven >= 40 dB path); (i, i+1) neighbor renders with
      // DIFFERING dims -> provably not dup (same-dims synthetic
      // renders share their R/G gradients and may legitimately score
      // >= 40 dB, so the non-dup leg only claims what the dims prove).
      // The exact-vs-lossy-vs-far PSNR grades are spec-pinned (PSNR
      // itself is not SQL-reproducible).
      val path = "/tmp/graft_oracle_images_q213"
      ImageTable.imagesReal(s, 300).write.mode("overwrite").parquet(path)
      val base = s.read.parquet(path)
        .withColumn("id", expr("CAST(substring(image_id, 5) AS BIGINT)"))
      val copies = base.filter(col("id") % 10 === 0)
        .withColumn("id", col("id") + 1000000L)
      val lossy = Multimodal.transcode(
        base.filter(col("id") % 10 === 5 && col("fmt") === "png"),
        "jpeg").withColumn("id", col("id") + 2000000L)
      val full = base.unionByName(copies).unionByName(lossy)
      val ba = base.select(col("id").as("id_a"), col("w").as("wa"),
        col("h").as("ha"))
      val bb = base.select(col("id").as("id_b"), col("w").as("wb"),
        col("h").as("hb"))
      val farPairs = ba.join(bb, col("id_b") === col("id_a") + 1 &&
          (col("wa") =!= col("wb") || col("ha") =!= col("hb")))
        .filter(col("id_a") % 10 === 1)
        .select(col("id_a"), col("id_b"))
      val pairs = full.filter(col("id") >= 1000000L)
        .select(pmod(col("id"), lit(1000000L)).as("id_a"),
          col("id").as("id_b"))
        .unionByName(farPairs)
      Multimodal.pairPsnrVerify(full, "id", pairs)
        .select(col("id_a"), col("id_b"), col("decode_ok"),
          col("dims_match"), col("is_dup"))
        .orderBy("id_a", "id_b")
    }),

    "q214_caption_election" -> ((s, dir) => {
      // canonical-caption election per near-dup cluster: the q195
      // caption fates (identical / case drift / ' v2' drift) RESOLVED
      // to one training label per cluster — majority vote, ties to the
      // longest caption, then lexicographic smallest; singletons elect
      // their own caption. The oracle replays components (recursive
      // CTE) + the election as a window rank.
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q214")
      val base = imgs.select(
        expr("CAST(substring(image_id, 5) AS BIGINT)").as("id"),
        col("phash"), col("caption"))
      val dups = base.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000L).as("id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"),
          expr("""CASE WHEN id % 40 = 0 THEN caption || ' v2'
                  WHEN id % 20 = 0 THEN upper(caption)
                  ELSE caption END""").as("caption"))
      val full = base.unionByName(dups)
      val pairs = Multimodal.phashNearDups(full, "id", "phash",
        maxDist = 3)
      Multimodal.electCanonicalCaption(full, "id", "caption", pairs)
        .select(col("id"), col("cluster"), col("canonical_caption"))
        .orderBy("id")
    }),

    "q215_pack_shards_dual" -> ((s, dir) => {
      // WebDataset-style dual-constraint export shards: byte spans
      // close at the 100000-byte budget; rows re-count within each
      // span and cut every 25 — shard key (byte_shard, shard_in_span)
      // honors BOTH caps exactly. Both running sums ride ONE range
      // shuffle; the oracle replays them as window functions.
      graft.text.Sharding.packShardsDual(
        tbl(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", byteBudget = 100000L, maxRows = 25L)
        .select("doc_id", "n_chars", "cum_bytes_before", "seq",
          "byte_shard", "shard_in_span")
        .orderBy("doc_id")
    }),

    "q243_image_decontaminate" -> ((s, dir) => {
      // image-axis eval decontamination: every 10th corpus image
      // reappears in the eval set 1 bit perturbed (distance 1), so
      // exactly those corpus rows must flag contaminated; the banded
      // cross-set join must agree with the oracle's exhaustive
      // Hamming scan
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q243")
      val corpus = imgs.select(col("image_id"), col("phash"))
      val evalSet = corpus
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .select(concat(col("image_id"), lit("_e")).as("image_id"),
          col("phash").bitwiseXOR(lit(4L)).as("phash"))
      Multimodal.decontaminateImages(corpus, evalSet,
          "image_id", "phash", maxDist = 3)
        .orderBy("image_id")
    }),

    "q244_caption_boilerplate" -> ((s, dir) => {
      // scraper-template gate: two casing/spacing variants of one
      // template planted over every 7th image must POOL under the
      // normalized count and flag; unique captions stay clean
      val imgs = oracleImages(s, 700, "/tmp/graft_oracle_images_q244")
        .select(col("image_id"),
          when(expr("CAST(substring(image_id, 5) AS BIGINT) % 14 = 0"),
            lit("click here to enlarge"))
            .when(
              expr("CAST(substring(image_id, 5) AS BIGINT) % 7 = 0"),
              lit("  Click   HERE to Enlarge "))
            .otherwise(col("caption")).as("caption"))
      Multimodal.captionBoilerplate(imgs, "image_id", "caption",
          maxRepeats = 3)
        .select("image_id", "caption_count", "is_boilerplate")
        .orderBy("image_id")
    }),

    "q242_orient_materialize" -> ((s, dir) => {
      // EXIF normalization materialized on real codec payloads and
      // certified by group algebra: F∘R∘F = R⁻¹ makes every
      // flip-variant an involution and pure rotations undo with the
      // complementary angle — so plan → materialize → inverse plan →
      // materialize must restore the DECODED original pixel-exactly
      // for all 8 tags. Oracle predicts dims + verdicts from metadata
      val path = "/tmp/graft_oracle_images_q242"
      ImageTable.imagesReal(s, 250).write.mode("overwrite").parquet(path)
      val imgs = s.read.parquet(path)
        .withColumn("id",
          expr("CAST(substring(image_id, 5) AS BIGINT)"))
        .withColumn("orientation",
          (pmod(col("phash"), lit(8L)) + 1).cast("int"))
      val planned = graft.multimodal.Batching.exifNormalizePlan(imgs,
        "orientation", "w", "h")
      val once = Multimodal.orientEncode(planned, "flip_h", "rot_cw")
      val back = Multimodal.orientEncode(
        once.withColumn("rot_inv",
          when(col("flip_h"), col("rot_cw"))
            .otherwise(pmod(lit(360) - col("rot_cw"), lit(360)))
            .cast("int")),
        "flip_h", "rot_inv")
      val both = imgs
        .select((col("id") + 2000000L).as("id"), col("bytes"),
          col("fmt"))
        .unionByName(back.select((col("id") + 3000000L).as("id"),
          col("bytes"), col("fmt")))
      val verdict = Multimodal.pairPsnrVerify(both, "id",
        imgs.select((col("id") + 2000000L).as("id_a"),
          (col("id") + 3000000L).as("id_b")))
      planned.select(col("id"), col("orientation"), col("out_w"),
          col("out_h"))
        .join(once.select(col("id"), col("w").as("mat_w"),
          col("h").as("mat_h")), Seq("id"))
        .join(verdict.select((col("id_a") - 2000000L).as("id"),
          col("exact")), Seq("id"))
        .withColumn("dims_ok",
          col("mat_w") === col("out_w") && col("mat_h") === col("out_h"))
        .select("id", "orientation", "out_w", "out_h", "dims_ok",
          "exact")
        .orderBy("id")
    }),

    "q238_curriculum_schedule" -> ((s, dir) => {
      // curriculum by length: exact global (n_chars, doc_id) rank via
      // the two-phase layout, 4 equal difficulty phases by integer div
      val d = tbl(s, dir, "documents").select("doc_id", "n_chars")
      graft.text.Sharding.curriculumSchedule(d, "n_chars", "doc_id",
          phases = 4)
        .select("doc_id", "n_chars", "rank", "phase")
        .orderBy("doc_id")
    }),

    "q239_repetition_plan" -> ((s, dir) => {
      // upsampling mixture plan: explicit milli-weights over langs,
      // 200k-token budget; integer-exact targets + epoch counts,
      // rep_factor from exact operands
      graft.text.TextOps.repetitionPlan(tbl(s, dir, "documents"),
          "lang", "n_chars",
          Map("en" -> 500, "de" -> 150, "es" -> 150,
            "fr" -> 100, "zh" -> 100),
          tokenBudget = 200000L)
        .orderBy("lang")
    }),

    "q240_split_leakage" -> ((s, dir) => {
      // contamination audit of an EXISTING hash split: q62's planted
      // phash twins land in hash-independent splits, so cross-split
      // leakage exists by construction; the matrix must count every
      // pair in the right (split_a <= split_b) cell
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q240")
      val base = imgs.select(col("image_id"), col("phash"))
      val dups = base
        .filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0"))
        .select(concat(col("image_id"), lit("_d")).as("image_id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"))
      val all = base.unionByName(dups)
      val pairs = Multimodal.phashNearDups(all, "image_id", "phash",
        maxDist = 3)
      val assign = graft.text.Sharding.hashSplit(all, "image_id", "r5",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select("image_id", "split")
      graft.dedup.Components.splitLeakageMatrix(pairs, assign,
          "id_a", "id_b", "image_id", "split")
        .orderBy("split_a", "split_b")
    }),

    "q241_epoch_batch_stats" -> ((s, dir) => {
      // batch-composition audit over the epoch-3 shuffle: 25-row
      // batches, per-batch member count / distinct sources / largest
      // single-source clump
      graft.text.Sharding.epochBatchStats(
          tbl(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", epoch = 3, batchSize = 25)
        .orderBy("batch")
    }),

    "q234_caption_pad_batches" -> ((s, dir) => {
      // caption padding-bucket layout: token counts varied
      // deterministically (3..21 via phash-driven repeat), rounded up
      // to multiples of 8, ranked per bucket, cut into 16-row
      // batches; output = per-batch member/token/pad totals
      val imgs = oracleImages(s, 800, "/tmp/graft_oracle_images_q234")
        .select(col("image_id"),
          trim(expr(
            "repeat(concat(caption, ' '), " +
              "cast(1 + pmod(phash, 7) as int))"))
            .as("caption")) // payload never rides the layout
      graft.multimodal.Batching.captionPadBatches(imgs,
          "image_id", "caption", multiple = 8, batchSize = 16)
        .groupBy("bucket_len", "batch_idx")
        .agg(count(lit(1)).as("n_rows"),
          sum("tokens").as("tokens_sum"),
          sum("pad_tokens").as("pad_tokens"))
        .orderBy("bucket_len", "batch_idx")
    }),

    "q235_contrastive_batches" -> ((s, dir) => {
      // no-false-negative contrastive batch assignment: phash-band
      // clusters (pmod 97 -> every cluster multi-member), Latin-square
      // shift batches, 32-row target size; oracle replays the exact
      // windows + the (N, max-cluster) scalar
      val imgs = oracleImages(s, 900, "/tmp/graft_oracle_images_q235")
        .select(col("image_id"),
          pmod(col("phash"), lit(97L)).as("cluster"))
      graft.multimodal.Batching.contrastiveBatches(imgs,
          "image_id", "cluster", batchSize = 32)
        .orderBy("image_id")
    }),

    "q236_source_quota" -> ((s, dir) => {
      // exact water-filling source caps: two oversized relabeled
      // source unions skew the uniform sf corpus, budget 601 forces a
      // non-trivial level AND a +1 leftover bump; output = per-source
      // kept counts + id-sum fingerprint of exactly which docs stayed
      val d = tbl(s, dir, "documents").select("doc_id", "source")
      val skewed = d
        .unionByName(d.filter(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            lit("srcBIG").as("source")))
        .unionByName(d.filter(col("doc_id") % 2 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            lit("srcBIG2").as("source")))
      graft.text.Sharding.sourceQuota(skewed, "source", "doc_id",
          budget = 601L)
        .groupBy("source")
        .agg(count(lit(1)).as("kept"),
          sum("doc_id").as("kept_id_sum"),
          max("src_rank").as("max_rank"))
        .orderBy("source")
    }),

    "q237_exif_normalize" -> ((s, dir) => {
      // EXIF orientation plan: tag derived 1..8 from phash, standard
      // flip-then-rotate decomposition, dims swap for the 90/270
      // family
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q237")
        .select(col("image_id"), col("w"), col("h"),
          (pmod(col("phash"), lit(8L)) + 1).cast("int")
            .as("orientation"))
      graft.multimodal.Batching.exifNormalizePlan(imgs,
          "orientation", "w", "h")
        .orderBy("image_id")
    }),

    "q318_rfm_orders" -> ((s, dir) => {
      // the SAME RFM operator over a different table shape (TPC-H
      // orders): customer recency/frequency/monetary off
      // o_orderdate/o_totalprice — operator generality, same exact
      // NTILE replica vs the literal-NTILE oracle
      graft.operators.Behavior.rfmScores(
        tbl(s, dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice")
        .orderBy("o_custkey")
    }),

    "q317_source_overlap" -> ((s, dir) => {
      // source-pair vocabulary overlap: inverted-index pair join on
      // distinct whitespace tokens, exact set sizes, Jaccard +
      // containment double divisions replayed by the oracle
      graft.text.TextOps.sourceOverlap(
        tbl(s, dir, "documents"), "source", "text")
        .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
          col("n_shared"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("containment"), 6).as("containment"))
        .orderBy("key_a", "key_b")
    }),

    "q310_incremental_streaks" -> ((s, dir) => {
      // incremental maintenance of the streak-stats view (q289):
      // bootstrap on 3/4 of the log, absorb the rest via the
      // changed-buckets-only commit — the final derived table must
      // equal a full recompute (literally q289's oracle)
      val ev = tbl(s, dir, "events")
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft_q310_src").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft_q310_dst").toString
      val bucket = SnapshotStore.byKey("user_id", 16)
      def view(rows: DataFrame): DataFrame =
        graft.operators.Behavior.streakStats(rows, "user_id", "ts")
      SnapshotStore.write(ev.filter(col("event_id") % 4 =!= 0),
        srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.write(ev, srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.read(s, dstRoot)
        .select(col("user_id"), col("n_active_days"),
          col("n_streaks"), col("max_streak_days"),
          col("last_streak_days"))
        .orderBy("user_id")
    }),

    "q365_incremental_profile" -> ((s, dir) => {
      // incremental maintenance of the WHOLE behavioral-profile
      // matrix (q363, per-entity-local by construction): bootstrap
      // on 3/4 of the log, absorb the rest changed-buckets-only —
      // the maintained table must equal the full recompute
      // (literally q363's composite oracle)
      val ev = tbl(s, dir, "events")
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft_q365_src").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft_q365_dst").toString
      val bucket = SnapshotStore.byKey("user_id", 16)
      def view(rows: DataFrame): DataFrame =
        graft.operators.Behavior.profileMatrix(rows, "user_id",
          "ts", "event_type", tieBreak = Seq("event_id"))
      SnapshotStore.write(ev.filter(col("event_id") % 4 =!= 0),
        srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.write(ev, srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.read(s, dstRoot)
        .select(col("user_id"), col("n_gaps"),
          round(col("burstiness"), 6).as("burstiness"),
          col("n_types"),
          round(col("type_entropy"), 6).as("type_entropy"),
          round(col("cadence_norm_entropy"), 6)
            .as("cadence_norm_entropy"),
          round(col("predictability_norm"), 6)
            .as("predictability_norm"))
        .orderBy("user_id")
    }),

    "q339_incremental_entropy" -> ((s, dir) => {
      // incremental maintenance of the transition-entropy view
      // (q333): bootstrap on 3/4 of the log, absorb the rest via the
      // changed-buckets-only commit — the maintained predictability
      // table must equal a full recompute (literally q333's oracle)
      val ev = tbl(s, dir, "events")
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft_q339_src").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft_q339_dst").toString
      val bucket = SnapshotStore.byKey("user_id", 16)
      def view(rows: DataFrame): DataFrame =
        graft.operators.Behavior.transitionEntropy(rows, "user_id",
          "ts", "event_type", tieBreak = Seq("event_id"))
      SnapshotStore.write(ev.filter(col("event_id") % 4 =!= 0),
        srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.write(ev, srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.read(s, dstRoot)
        .select(col("user_id"), col("n_bigrams"), col("n_pairs"),
          col("n_cur_types"),
          round(col("cond_entropy"), 6).as("cond_entropy"),
          round(col("norm_cond"), 6).as("norm_cond"))
        .orderBy("user_id")
    }),

    "q233_incremental_agg" -> ((s, dir) => {
      // the generalized maintenance: an incremental per-user
      // AGGREGATE view (counts + exact decimal sums) kept in sync by
      // the same changed-buckets-only commit — final state must equal
      // a direct groupBy over all events
      val ev = tbl(s, dir, "events")
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft_q233_src").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft_q233_dst").toString
      val bucket = SnapshotStore.byKey("user_id", 16)
      def view(rows: DataFrame): DataFrame = rows
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          count(col("value")).as("n_values"),
          sum(col("value").cast("decimal(38,6)")).cast("double")
            .as("value_sum"))
      SnapshotStore.write(ev.filter(col("event_id") % 4 =!= 0),
        srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.write(ev, srcRoot, bucket)
      graft.io.IncrementalView.maintainView(s, srcRoot, dstRoot,
        bucket, view)
      SnapshotStore.read(s, dstRoot).orderBy("user_id")
    }),

    "q245_snapshot_diff" -> ((s, dir) => {
      // row-level CDC between two snapshots: v1 = events minus every
      // 5th, v2 = events minus every (11k+3)th with every 7th value
      // bumped — the diff must classify every key insert / update /
      // delete exactly (a bumped NULL value stays NULL, so it is NOT
      // an update); the oracle predicts the verdicts from the
      // planting predicates alone
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q245_store").toString
      val bucket = SnapshotStore.byKey("event_id", 16)
      val v1 = SnapshotStore.write(
        ev.filter(col("event_id") % 5 =!= 0), root, bucket).snapshot
      val v2df = ev.filter(col("event_id") % 11 =!= 3)
        .withColumn("value",
          when(col("event_id") % 7 === 0, col("value") + 1)
            .otherwise(col("value")))
      val v2 = SnapshotStore.write(v2df, root, bucket).snapshot
      SnapshotStore.snapshotDiff(s, root, v1, v2, Seq("event_id"))
        .orderBy("event_id")
    }),

    "q247_alignment_gate" -> ((s, dir) => {
      // CLIP-score gate on deterministic "caption" embeddings: a
      // 2-slot rotation of the image embedding (high but non-trivial
      // cosine), with planted nulls (%13) and zero vectors (%17)
      // that must gate as unalignable — aligned=false, never a crash
      val e = tbl(s, dir, "embeddings")
      val rot = concat(slice(col("embedding"), 3, 62),
        slice(col("embedding"), 1, 2))
      val withCap = e.withColumn("cap_emb",
        when(col("vec_id") % 13 === 0,
          lit(null).cast("array<float>"))
          .when(col("vec_id") % 17 === 0,
            transform(col("embedding"), _ => lit(0.0f)))
          .otherwise(rot))
      Multimodal.alignmentGate(withCap, "embedding", "cap_emb",
          minCos = 0.2)
        .select(col("vec_id"),
          round(col("alignment"), 6).as("alignment"), col("aligned"))
        .orderBy("vec_id")
    }),

    "q248_snapshot_changelog" -> ((s, dir) => {
      // table_changes over three snapshots: q245's two snapshots plus
      // a third that deletes every (13k+1)th key and bumps every 19th
      // value — each step's verdicts must land under its own step
      // number, and a key changed twice appears once PER step
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q248_store").toString
      val bucket = SnapshotStore.byKey("event_id", 16)
      val v1 = SnapshotStore.write(
        ev.filter(col("event_id") % 5 =!= 0), root, bucket).snapshot
      val v2df = ev.filter(col("event_id") % 11 =!= 3)
        .withColumn("value",
          when(col("event_id") % 7 === 0, col("value") + 1)
            .otherwise(col("value")))
      SnapshotStore.write(v2df, root, bucket)
      val v3df = v2df.filter(col("event_id") % 13 =!= 1)
        .withColumn("value",
          when(col("event_id") % 19 === 0, col("value") + 5)
            .otherwise(col("value")))
      val v3 = SnapshotStore.write(v3df, root, bucket).snapshot
      SnapshotStore.snapshotChangelog(s, root, v1, v3, Seq("event_id"))
        .withColumn("step", (col("to_snapshot") - lit(v1)).cast("int"))
        .drop("to_snapshot")
        .orderBy("step", "event_id")
    }),

    "q249_adaptive_alignment" -> ((s, dir) => {
      // per-source calibration: each label's own 25th-percentile
      // alignment (exact np.interp quantile) is its gate threshold;
      // %13-planted null captions must gate false without poisoning
      // their source's calibration
      val e = tbl(s, dir, "embeddings")
      val rot = concat(slice(col("embedding"), 3, 62),
        slice(col("embedding"), 1, 2))
      val withCap = e.withColumn("cap_emb",
        when(col("vec_id") % 13 === 0,
          lit(null).cast("array<float>")).otherwise(rot))
      Multimodal.alignmentGateAdaptive(withCap, "label",
          "embedding", "cap_emb", q = 0.25)
        .select(col("vec_id"),
          round(col("alignment"), 6).as("alignment"),
          round(col("threshold"), 6).as("threshold"), col("aligned"))
        .orderBy("vec_id")
    }),

    "q250_merge_changes" -> ((s, dir) => {
      // MERGE INTO: deletes (%9==4), in-place upserts (%6==0, value
      // +10 — disjoint from the deletes by modular arithmetic) and
      // brand-new keys (-id-1 for %10==7) applied in ONE merge; the
      // read-back table must equal the oracle's three-way union
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q250_store").toString
      val bucket = SnapshotStore.byKey("event_id", 16)
      SnapshotStore.write(ev, root, bucket)
      val deletes = ev.filter(col("event_id") % 9 === 4)
        .withColumn("op", lit("delete"))
      val bumps = ev.filter(col("event_id") % 6 === 0)
        .withColumn("value", col("value") + 10)
        .withColumn("op", lit("upsert"))
      val fresh = ev.filter(col("event_id") % 10 === 7)
        .withColumn("event_id", -col("event_id") - 1)
        .withColumn("op", lit("upsert"))
      SnapshotStore.mergeChanges(s, root,
        deletes.unionByName(bumps).unionByName(fresh),
        Seq("event_id"), bucket)
      SnapshotStore.read(s, root)
        .select("event_id", "user_id", "ts", "value")
        .orderBy("event_id")
    }),

    "q252_schema_evolution" -> ((s, dir) => {
      // additive schema evolution: v1 = 4-column events; ONE merge
      // upserts every (12k+5)th key carrying a NEW 'tier' column —
      // the table evolves, untouched buckets carry by reference
      // (files never rewritten) and serve tier as NULL through the
      // explicit-schema read; the oracle rebuilds the final table
      // from the planting predicates alone
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q252_store").toString
      val bucket = SnapshotStore.byKey("event_id", 16)
      SnapshotStore.write(ev, root, bucket)
      val changes = ev.filter(col("event_id") % 12 === 5)
        .withColumn("value", col("value") + 2)
        .withColumn("tier",
          concat(lit("t"), (col("event_id") % 3).cast("string")))
        .withColumn("op", lit("upsert"))
      SnapshotStore.mergeChanges(s, root, changes,
        Seq("event_id"), bucket)
      SnapshotStore.read(s, root)
        .select("event_id", "value", "tier")
        .orderBy("event_id")
    }),

    "q253_evolved_diff" -> ((s, dir) => {
      // CDC ACROSS the evolution boundary: the same evolving merge
      // plus deletes (%9==4, no CRT overlap with the %12==5 upserts)
      // and fresh negative keys (%50==1); snapshotDiff conforms v1 to
      // the evolved schema, so every upserted key classifies update
      // (its new 'tier' gained a value even where 'value' was null),
      // deletes and inserts land exactly on their predicates
      val ev = tbl(s, dir, "events")
        .select("event_id", "user_id", "ts", "value")
      val root = java.nio.file.Files
        .createTempDirectory("graft_q253_store").toString
      val bucket = SnapshotStore.byKey("event_id", 16)
      val v1 = SnapshotStore.write(ev, root, bucket).snapshot
      val upserts = ev.filter(col("event_id") % 12 === 5)
        .withColumn("value", col("value") + 2)
        .withColumn("tier",
          concat(lit("t"), (col("event_id") % 3).cast("string")))
        .withColumn("op", lit("upsert"))
      val deletes = ev.filter(col("event_id") % 9 === 4)
        .withColumn("tier", lit(null).cast("string"))
        .withColumn("op", lit("delete"))
      val fresh = ev.filter(col("event_id") % 50 === 1)
        .withColumn("event_id", -col("event_id") - 1)
        .withColumn("tier", lit("new"))
        .withColumn("op", lit("upsert"))
      val v2 = SnapshotStore.mergeChanges(s, root,
        upserts.unionByName(deletes).unionByName(fresh),
        Seq("event_id"), bucket).snapshot
      SnapshotStore.snapshotDiff(s, root, v1, v2, Seq("event_id"))
        .orderBy("event_id")
    }),

    "q232_incremental_latest" -> ((s, dir) => {
      // incremental materialized view: the source store lands in two
      // snapshots (80% of events, then the full table); each
      // maintenance run diffs per-bucket lineage, reads ONLY the
      // changed buckets and partition-overwrites their derived twins
      // (untouched buckets carry by reference). The final derived
      // table must equal latest-row-per-user over ALL events
      val ev = tbl(s, dir, "events")
      val srcRoot = java.nio.file.Files
        .createTempDirectory("graft_q232_src").toString
      val dstRoot = java.nio.file.Files
        .createTempDirectory("graft_q232_dst").toString
      val bucket = SnapshotStore.byKey("user_id", 16)
      SnapshotStore.write(ev.filter(col("event_id") % 5 =!= 0),
        srcRoot, bucket)
      graft.io.IncrementalView.maintainLatest(s, srcRoot, dstRoot,
        bucket, "user_id", "ts", "event_id")
      SnapshotStore.write(ev, srcRoot, bucket)
      graft.io.IncrementalView.maintainLatest(s, srcRoot, dstRoot,
        bucket, "user_id", "ts", "event_id")
      SnapshotStore.read(s, dstRoot)
        .select("user_id", "event_id", "ts", "value")
        .orderBy("user_id")
    }),

    "q227_shard_write_audit" -> ((s, dir) => {
      // the export round trip: lay out (q215), publish the manifest
      // (q226), WRITE the framed binary shards, then re-parse the
      // bytes on disk and prove every shard's member count, payload
      // total and content fingerprint match the manifest — the
      // oracle predicts the layout math and all-true audit flags
      val docs = tbl(s, dir, "documents").select("doc_id", "n_chars")
      val packed = graft.text.Sharding.packShardsDual(docs,
        "doc_id", "n_chars", byteBudget = 100000L, maxRows = 25L)
      val keys = Seq("byte_shard", "shard_in_span")
      val manifest = graft.text.Sharding.shardManifest(packed,
        "doc_id", "n_chars", keys)
      // payload joined back by id at write time (the layout
      // discipline); deterministic bytes of exactly n_chars length
      val withBytes = packed.join(docs.select(col("doc_id"),
        expr("CAST(repeat('x', n_chars) AS BINARY)").as("bytes")),
        Seq("doc_id"))
      val out = java.nio.file.Files
        .createTempDirectory("graft_q227_shards").toString
      graft.io.ShardWriter.writeShards(withBytes, "doc_id", "bytes",
        "seq", keys, out).count() // materialize the write
      graft.io.ShardWriter.auditShards(s, out, manifest, keys)
        .select("byte_shard", "shard_in_span", "members",
          "shard_bytes", "members_match", "bytes_match", "fp_match")
        .orderBy("byte_shard", "shard_in_span")
    }),

    "q226_shard_manifest" -> ((s, dir) => {
      // the tar-writer completion of q215: every member's seek offset
      // within its shard (global cumsum minus the shard's group-min —
      // no per-shard window sort) plus the shard's published manifest
      // row (members, bytes, id range, engine-portable bit_xor md5-60
      // content fingerprint) joined back on
      val packed = graft.text.Sharding.packShardsDual(
        tbl(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", "n_chars", byteBudget = 100000L, maxRows = 25L)
      val shardKeys = Seq("byte_shard", "shard_in_span")
      val withOff = graft.text.Sharding.shardMemberOffsets(
        packed, "cum_bytes_before", shardKeys)
      val manifest = graft.text.Sharding.shardManifest(
        packed, "doc_id", "n_chars", shardKeys)
      withOff
        .join(manifest, shardKeys)
        .select("doc_id", "byte_shard", "shard_in_span",
          "member_offset", "members", "shard_bytes", "content_fp")
        .orderBy("doc_id")
    }),

    "q216_pair_partners" -> ((s, dir) => {
      // deterministic mixup/contrastive partner assignment, epoch 2:
      // rows pair even-with-odd in the epoch order (partner_pos =
      // shuffle_pos XOR 1); an odd corpus tail keeps a null partner.
      // Oracle replays the two-round Knuth mix + row_number and joins
      // rn XOR 1.
      graft.text.Sharding.pairPartners(
        tbl(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", epoch = 2)
        .select("doc_id", "shuffle_pos", "pair_id", "partner_doc_id")
        .orderBy("doc_id")
    }),

    "q224_augment_involution" -> ((s, dir) => {
      // full augmentation materialization certified by algebra: flip
      // is an exact involution and jitter is pointwise, so
      // flip(flip(jitter(crop))) must equal jitter(crop) PIXEL-EXACT
      // for every row — rows the mix flips exercise the mirror path,
      // rows it doesn't pass through it, and the oracle predicts
      // which (plus the clamped window dims) from metadata alone.
      // Three codec passes + the pair verify, 250 real images
      val path = "/tmp/graft_oracle_images_q224"
      ImageTable.imagesReal(s, 250).write.mode("overwrite").parquet(path)
      val imgs = s.read.parquet(path)
        .withColumn("id",
          expr("CAST(substring(image_id, 5) AS BIGINT)"))
      val deltas = IndexedSeq(-40, 0, 40)
      val planned = Multimodal.augmentPlan(imgs, "id", "w", "h",
        epoch = 2, cropW = 14, cropH = 10, flipPct = 50,
        jitterLevels = 3)
      val a = Multimodal.augmentEncode(planned, "crop_x", "crop_y",
        "crop_w", "crop_h", jitterCol = Some("jitter"),
        jitterDeltas = deltas)
      val b = Multimodal.augmentEncode(planned, "crop_x", "crop_y",
        "crop_w", "crop_h", flipCol = Some("flip"),
        jitterCol = Some("jitter"), jitterDeltas = deltas)
      val b2 = Multimodal.augmentEncode(
        b.withColumn("x0", lit(0)).withColumn("y0", lit(0)),
        "x0", "y0", "w", "h", flipCol = Some("flip"))
      val both = a
        .select((col("id") + 2000000L).as("id"), col("bytes"),
          col("fmt"))
        .unionByName(b2.select((col("id") + 3000000L).as("id"),
          col("bytes"), col("fmt")))
      val verdict = Multimodal.pairPsnrVerify(both, "id",
        a.select((col("id") + 2000000L).as("id_a"),
          (col("id") + 3000000L).as("id_b")))
      planned.select(col("id"), col("flip"), col("crop_w"),
          col("crop_h"))
        .join(verdict.select((col("id_a") - 2000000L).as("id"),
          col("exact")), Seq("id"))
        .orderBy("id")
    }),

    "q223_image_safe_split" -> ((s, dir) => {
      // ZERO-LEAKAGE train/val/test split over a near-dup IMAGE
      // corpus: the split key is the phash CLUSTER label, so a
      // re-encoded / re-scraped picture can never sit in train AND
      // test. Near-dups injected deterministically (every 10th image
      // re-appears at Hamming distance 2, the q62 idiom); pairs come
      // from the pigeonhole banding (exhaustive-truth-equal), and the
      // oracle recomputes the all-pairs Hamming closure + the
      // identical md5 split rule
      val base =
        oracleImages(s, 500, "/tmp/graft_oracle_images_q223")
          .withColumn("id",
            expr("CAST(substring(image_id, 5) AS BIGINT)"))
          .select("id", "phash")
      val dups = base.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000L).as("id"),
          col("phash").bitwiseXOR(lit(257L)).as("phash"))
      val t = base.unionByName(dups)
      val pairs = Multimodal.phashNearDups(t, "id", "phash",
        maxDist = 3)
      Components.leakageSafeSplit(t, "id", pairs, "id_a", "id_b",
        salt = "isplit",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select("id", "split")
        .orderBy("id")
    }),

    "q221_augment_plan" -> ((s, dir) => {
      // deterministic per-(id, epoch) augmentation plan: crop window,
      // flip and jitter are pure integer sub-stream hashes of
      // (id, epoch) — the oracle replays every draw in SQL, proving
      // the plan is engine-portable and RNG-free (reproducible
      // training, exact resume). cropW=24/cropH=20 over 8..32-px dims
      // exercises both the clamped (w<24) and uniform-window branches
      val imgs =
        oracleImages(s, 600, "/tmp/graft_oracle_images_q221")
          .withColumn("id",
            expr("CAST(substring(image_id, 5) AS BIGINT)"))
          .select("id", "w", "h")
      Multimodal.augmentPlan(imgs, "id", "w", "h", epoch = 2,
        cropW = 24, cropH = 20, flipPct = 35, jitterLevels = 5)
        .orderBy("id")
    }),

    "q222_crop_materialize" -> ((s, dir) => {
      // crop materialization certified by in-plan decode: every real
      // payload decodes, its augmentPlan window lands in bounds, and
      // the png re-encode comes back at EXACTLY the plan dims — the
      // oracle predicts decoded dims from the stored metadata alone.
      // Pixel-exactness of the copied window is spec-gated
      // (AugmentSpec golden region compare)
      val path = "/tmp/graft_oracle_images_q222"
      ImageTable.imagesReal(s, 300).write.mode("overwrite").parquet(path)
      val imgs = s.read.parquet(path)
        .withColumn("id",
          expr("CAST(substring(image_id, 5) AS BIGINT)"))
      val plan = Multimodal.augmentPlan(imgs, "id", "w", "h",
        epoch = 1, cropW = 16, cropH = 12)
      val cropped = Multimodal.cropEncode(plan,
        "crop_x", "crop_y", "crop_w", "crop_h")
      Multimodal.withDecodeFeatures(
        cropped.select("id", "bytes", "fmt", "w", "h"),
        Multimodal.ImageIoDecoder)
        .select("id", "w", "h", "decoded_w", "decoded_h", "decode_ok")
        .orderBy("id")
    }),

    "q220_ingest_verify_e2e" -> ((s, dir) => {
      // image-ingest capstone: a new batch lands, the PERSISTED phash
      // index proposes candidates (the image table is never re-read
      // for banding), the pair PSNR verify decodes ONLY the
      // candidates with normalized cross-resolution scoring, and each
      // batch image gets its verdict — the corpus original it
      // pixel-verifiably duplicates, or none. Batch fates by id
      // pattern: relabeled exact copies (+1e6, every 10th), 2x png
      // rematerializations (+2e6, every 10th+5 — dims differ, only
      // the NORMALIZED verify can confirm these), and genuinely new
      // renders (+5e6, fresh seed) that must come through unmatched
      // AND undecoded (no candidates -> no codec work).
      val (corpus, batch) = ingestFixture(s)
      val idxRoot = java.nio.file.Files
        .createTempDirectory("graft_q220_idx").toString
      graft.multimodal.PhashIndex.build(
        corpus.select("id", "phash"), "id", "phash", idxRoot)
      val cand = graft.multimodal.PhashIndex.batchNearDups(
        batch.select("id", "phash"), "id", "phash", idxRoot,
        maxDist = 3)
      val verified = Multimodal.pairPsnrVerify(
        corpus.unionByName(batch).select("id", "bytes", "fmt"),
        "id", cand.select("id_a", "id_b"), normalizeDims = true)
        .filter(col("is_dup"))
      batch.select(col("id").as("batch_id"))
        .join(verified.filter(col("id_a") < 1000000L)
          .groupBy(col("id_b").as("batch_id"))
          .agg(min(col("id_a")).as("matched_id")),
          Seq("batch_id"), "left")
        .orderBy("batch_id")
    }),

    "q219_epoch_ladder_batches" -> ((s, dir) => {
      // per-epoch aspect-bucketed training batches: the q209 ladder
      // snap ranked inside each rung by the epoch-3 Knuth mix instead
      // of static id order — each epoch reshuffles every rung's
      // batches, reproducible from (id, epoch) alone; same
      // no-PARTITION-BY-bucket rank machinery
      val imgs = oracleImages(s, 500, "/tmp/graft_oracle_images_q219")
        .select(expr("CAST(substring(image_id, 5) AS BIGINT)").as("id"),
          col("w"), col("h"))
      graft.multimodal.AspectBatch.snapToLadder(imgs, "id", "w", "h",
        AspectLadder,
        batchSize = 16, epochOrder = Some(3))
        .select(col("id"), col("bucket_idx"), col("rank_in_bucket"),
          col("batch_idx"))
        .orderBy("id")
    }),

    "q217_resize_ladder_verify" -> ((s, dir) => {
      // materialized-ladder round trip: resizeEncode NN-upsamples png
      // originals 2x and re-encodes losslessly; the normalized pair
      // PSNR verify must score every (original, materialized-2x) pair
      // +Infinity (an NN-downsample of an NN-upsample is the
      // identity) with dims_match honestly false, and every relabeled
      // exact copy +Infinity with dims_match true. All verdicts are
      // id-pattern provable.
      val path = "/tmp/graft_oracle_images_q217"
      ImageTable.imagesReal(s, 240).write.mode("overwrite").parquet(path)
      val base = s.read.parquet(path)
        .withColumn("id", expr("CAST(substring(image_id, 5) AS BIGINT)"))
      val up = Multimodal.resizeEncode(
        base.filter(col("id") % 10 === 0 && col("fmt") === "png")
          .withColumn("tw", col("w") * 2)
          .withColumn("th", col("h") * 2),
        "tw", "th").drop("tw", "th")
        .withColumn("id", col("id") + 1000000L)
      val copies = base.filter(col("id") % 10 === 5)
        .withColumn("id", col("id") + 2000000L)
      val full = base.unionByName(up).unionByName(copies)
      val pairs = full.filter(col("id") >= 1000000L)
        .select(pmod(col("id"), lit(1000000L)).as("id_a"),
          col("id").as("id_b"))
      Multimodal.pairPsnrVerify(full, "id", pairs,
        normalizeDims = true)
        .select(col("id_a"), col("id_b"), col("decode_ok"),
          col("dims_match"), col("exact"), col("is_dup"))
        .orderBy("id_a", "id_b")
    }),

    "q52_multimodal_decode" -> ((s, dir) => {
      // mapPartitions decode plumbing with the stub decoder (whose spec
      // is deliberately SQL-reproducible — see Multimodal.StubDecoder);
      // same parquet round-trip as q51 so the oracle sees the input
      val imgs = oracleImages(s, 200, "/tmp/graft_oracle_images_q52")
      Multimodal.withDecodeFeatures(imgs, Multimodal.StubDecoder)
        .select(col("image_id"), col("decoded_w"), col("decoded_h"),
          col("mean_luma"), col("decode_ok"))
        .orderBy("image_id")
    }),

    "q76_neardup_components" -> ((s, dir) => {
      // duplicate-pair graph -> duplicate CLUSTERS: edges are the q42
      // n-gram-Jaccard pairs, components via min-label propagation +
      // pointer jumping; the oracle recomputes the same closure with a
      // recursive CTE. Injected dups chain (id ~ id+1e6 per seed doc),
      // and seeds sharing near-identical text merge transitively.
      val d = docsWithDups(s, dir).withColumn("blk", col("doc_id") % 50)
      val edges = Dedup.blockedJaccard(d, "doc_id", "text", "blk")
        .filter(col("jaccard") >= 0.5)
      Components.connectedComponents(edges, "id_a", "id_b")
        .orderBy("id")
    }),

    "q77_topk_per_group" -> ((s, dir) => {
      // top-5 longest docs per source through the bounded-heap
      // top_k_by aggregate (map-side partial agg, no per-group sort);
      // score = n_chars (integral -> drift-free), ties -> smaller id
      GroupOps.topKPerGroup(tbl(s, dir, "documents"),
        Seq("source"), "n_chars", "doc_id", k = 5)
        .orderBy("source", "rank")
    }),

    "q78_pack_shards" -> ((s, dir) => {
      // token-budget corpus sharding in doc_id order: exclusive
      // range-partitioned cumulative token count, shard = floor(/2000)
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      Sharding.packShards(d, "doc_id", "n_tok", budget = 2000L)
        .orderBy("doc_id")
    }),

    "q152_pack_context_blocks" -> ((s, dir) => {
      // GPT-style concat-and-chunk: the corpus token stream cut into
      // 512-token context blocks, documents spanning boundaries — the
      // autoregressive-pretraining writer's index (start/end block +
      // in-block offset per doc). Integer `div` block math (exact past
      // 2^53 tokens), same two-phase cumsum as q78
      val d = tbl(s, dir, "documents").select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      Sharding.packContextBlocks(d, "doc_id", "n_tok", blockSize = 512L)
        .orderBy("doc_id")
    }),

    "q79_stratified_sample" -> ((s, dir) => {
      // deterministic per-language sampling via the Knuth
      // multiplicative hash — engine-independent, seedless, stable
      // across runs and cluster sizes; dyadic rates are exact in int64
      Sharding.stratifiedSample(tbl(s, dir, "documents"),
        "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.25, "es" -> 0.125, "de" -> 1.0))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    "q81_multimodal_resize" -> ((s, dir) => {
      // stub resize to 8x8 through the mapPartitions batch path; the
      // NN source-index spec is plain integer arithmetic over the
      // payload bytes, so the oracle recomputes checksum/mean from
      // hex(bytes) in SQL. Payload never passes through the output.
      val imgs = oracleImages(s, 200, "/tmp/graft_oracle_images_q81")
      Multimodal.withResizeFeatures(imgs, Multimodal.StubResizer,
        targetW = 8, targetH = 8)
        .select(col("image_id"), col("resized_w"), col("resized_h"),
          col("resized_checksum"),
          round(col("resized_mean"), 6).as("resized_mean"),
          col("resize_ok"))
        .orderBy("image_id")
    }),

    "q82_frame_sample" -> ((s, dir) => {
      // video-as-binary: treat each payload as 4 fixed-length frames,
      // RELATIONALLY slice every 2nd frame (posexplode + substr stay
      // in codegen; no batch path until the codec), stub-decode each
      // frame. Oracle recomputes the slice + md5 luma in SQL.
      val imgs = oracleImages(s, 120, "/tmp/graft_oracle_images_q82")
        .withColumn("n_frames", lit(4))
      val frames = Multimodal.sampleFrames(imgs,
        frameLenCol = floor(length(col("bytes")) / 4),
        nFramesCol = col("n_frames"), everyK = 2)
      Multimodal.withDecodeFeatures(frames, Multimodal.StubDecoder)
        .select(col("image_id"), col("frame_idx"),
          col("mean_luma"), col("decode_ok"))
        .orderBy("image_id", "frame_idx")
    }),

    "q83_dedup_end_to_end" -> ((s, dir) => {
      // the full near-dup path composed: MinHash-LSH candidate pairs
      // -> exact-Jaccard verify -> connected components -> keep one
      // canonical doc per CLUSTER (plus all untouched docs). The
      // oracle recomputes survivors from the EXHAUSTIVE all-pairs
      // truth + a recursive-CTE closure, so this certifies recall of
      // the banded LSH AND the component dedup in one signal.
      val d = docsWithDups(s, dir)
      val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
        threshold = 0.5)
      Components.dedupByComponents(d, "doc_id", pairs, "id_a", "id_b")
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q84_sample_exact_count" -> ((s, dir) => {
      // exactly 7 docs per language, smallest-mixHash rule, through
      // the bounded-heap top_k_by aggregate (no per-stratum sort)
      Sharding.sampleExactPerStratum(tbl(s, dir, "documents"),
        "lang", "doc_id", n = 7)
        .orderBy("lang", "doc_id")
    }),

    "q86_tfidf" -> ((s, dir) => {
      // classic sparse relevance weights: one token explode, two
      // map-side-combined aggs, vocab-side join; minTf prunes the
      // unit-count tail before the join
      TextOps.tfidf(tbl(s, dir, "documents"), "doc_id", "text",
        minTf = 3)
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "term")
    }),

    "q274_trimmed_stats" -> ((s, dir) => {
      // robust per-group location pair: mean inside the exact
      // [p5, p95] interp fences (trimmed) and mean of the clamped
      // values (winsorized); round-6 absorbs aggregate-order ulp
      // drift in the two means, counts exact
      GroupOps.trimmedStats(
        tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity", loQ = 0.05, hiQ = 0.95)
        .select(col("l_returnflag"), col("n"), col("n_kept"),
          round(col("trimmed_mean"), 6).as("trimmed_mean"),
          round(col("winsorized_mean"), 6).as("winsorized_mean"))
        .orderBy("l_returnflag")
    }),

    "q87_group_quantile_cap" -> ((s, dir) => {
      // per-group winsorizing: clip to each l_returnflag group's exact
      // [p5, p95] (np.interp semantics) — distributed grouped quantile
      // fit + caps joined back on the key, nothing collected
      GroupOps.capByGroupQuantiles(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity", loQ = 0.05, hiQ = 0.95)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q88_group_robust_scale" -> ((s, dir) => {
      // outlier-insensitive per-group scaling: (x - median)/IQR with
      // exact np.interp quantiles, sklearn RobustScaler parity
      GroupOps.robustScaleByGroup(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          round(col("l_quantity_rs"), 6).as("q_rs"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q184_mad_outliers" -> ((s, dir) => {
      // robust per-group outlier screen: modified z-score from two
      // exact grouped medians (median, then MAD); the heavy-tailed
      // event values flag ~4% at the 3.5 cutoff while the z-yardstick
      // itself stays outlier-proof
      GroupOps.madOutlierFlags(
        tbl(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value")),
        "event_type", "value")
        .select(col("event_id"), round(col("value_mz"), 6).as("mz"),
          col("value_outlier").as("is_outlier"))
        .orderBy("event_id")
    }),

    "q89_group_pct_rank" -> ((s, dir) => {
      // rank-normalization feature: per-group ECDF via cume_dist
      GroupOps.percentileRankByGroup(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity")),
        "l_returnflag", "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity_pct"), 6).as("q_pct"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q90_hashing_encoder" -> ((s, dir) => {
      // hashing-trick encoder: stateless, no vocabulary, works at
      // any cardinality (the web-scale complement to one-hot's
      // 100-level cap); md5 path is engine-portable
      val t = new graft.operators.HashingEncoderTransformer(
        Seq("source", "lang"), nFeatures = 64, signed = true)
      t.transform(tbl(s, dir, "documents"))
        .select(col("doc_id"), col("source_hash"), col("source_sign"),
          col("lang_hash"), col("lang_sign"))
        .orderBy("doc_id")
    }),

    "q91_quantile_binner" -> ((s, dir) => {
      // pd.qcut-style quantile binning: exact np.interp edges fitted
      // distributed, digitize(right=True) transform
      val d = tbl(s, dir, "lineitem")
      val t = new graft.operators.QuantileBinnerTransformer(
        Seq("l_quantity"), nBins = 4).fit(d)
      t.transform(d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_qbin"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q92_pq_codes" -> ((s, dir) => {
      // PQ encode with a PINNED codebook (fit itself is Lloyd's, not
      // SQL-reproducible — spec-pinned instead): per-subspace argmin
      // over quantized integer distances, a pure projection the
      // oracle recomputes with list arithmetic
      Knn.pqCodes(PinnedPq.model, tbl(s, dir, "embeddings"),
        "vec_id", "embedding")
        .select(col("item_id").as("vec_id"),
          element_at(col("codes"), 1).as("code_0"),
          element_at(col("codes"), 2).as("code_1"))
        .orderBy("vec_id")
    }),

    "q93_incremental_dedup" -> ((s, dir) => {
      // incremental ingestion: index the corpus once, then dedup a
      // new batch against it via the STORED band rows (corpus is
      // never re-signatured; its text is read only for candidate
      // ids). Oracle = exhaustive all-pairs truth over the union,
      // restricted to pairs touching the batch.
      val corpus = tbl(s, dir, "documents")
      val batch = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, instr(text, ' ') + 1)").as("text"))
      // fixed per-CONTENT path + build-once: bench reps and repeated
      // verify runs REUSE the stored index instead of re-signaturing
      // the corpus. Keyed on an order-independent corpus fingerprint
      // (one cheap hash scan), NOT the directory path: changed data at
      // the same path (or a path hashCode collision) must invalidate
      // the cache rather than silently verify a stale index.
      val fp = corpus
        // XOR-fold: order-independent and cannot overflow (a SUM of
        // int64 hashes trips ANSI overflow)
        .agg(expr("bit_xor(xxhash64(doc_id, text))").as("fp"))
        .head().getLong(0)
      val root = s"/tmp/graft_mhidx_q93_${java.lang.Long.toHexString(fp)}"
      if (graft.io.SnapshotStore.latestSnapshot(s"$root/bands").isEmpty)
        graft.dedup.MinhashIndex.build(
          corpus.select(col("doc_id"), col("text")), "doc_id", "text",
          root)
      graft.dedup.MinhashIndex.batchNearDups(batch,
        corpus.select(col("doc_id"), col("text")), "doc_id", "text",
        root, threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "q94_decontamination" -> ((s, dir) => {
      // benchmark decontamination: eval docs are substrings of corpus
      // docs (first 20 chars dropped) — winnowing's guarantee (shared
      // substring >= k+w-1 shares a fingerprint) makes every true
      // contamination pair detectable; join carries int64 fps only
      val corpus = tbl(s, dir, "documents")
      val test = corpus.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          expr("substring(text, 21)").as("text"))
      TextOps.contamination(corpus, test, "doc_id", "text",
        minShared = 3)
        .orderBy("corpus_id", "test_id")
    }),

    "q112_decontam_bloom" -> ((s, dir) => {
      // decontamination through the BLOOM pre-filter path: a sketch
      // of the eval fingerprints runs inside the corpus fingerprint
      // scan (codegen'd BloomMightContainQ), so only possible matches
      // reach the join — result IDENTICAL to the exact path, which is
      // exactly what the oracle certifies
      val corpus = tbl(s, dir, "documents")
      val test = corpus.filter(col("doc_id") % 20 === 3)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          expr("substring(text, 11)").as("text"))
      val testFps = TextOps
        .winnowFingerprints(test, "doc_id", "text", 8, 4)
        .withColumnRenamed("doc_id", "test_id")
      TextOps.contaminationBloom(corpus, testFps, "doc_id", "text",
        minShared = 2)
        .orderBy("corpus_id", "test_id")
    }),

    "q95_repetition_scores" -> ((s, dir) => {
      // Gopher-style within-doc repetition: duplicated-token fraction
      // (pure projection) + top bigram share (one shingle pass)
      val r = TextOps.repetitionScores(
        tbl(s, dir, "documents"), "doc_id", "text")
      r.select(col("doc_id"),
        round(col("dup_word_ratio"), 6).as("dup_word_ratio"),
        round(col("top_bigram_ratio"), 6).as("top_bigram_ratio"))
        .orderBy("doc_id")
    }),

    "q96_oof_target_encoding" -> ((s, dir) => {
      // leakage-free target encoding: each row encoded from the OTHER
      // 4 folds' statistics only (the tabular counterpart of the
      // as-of join's no-future-reads rule); integral response ->
      // bit-exact sums
      GroupOps.oofMeanResponse(
        tbl(s, dir, "customer")
          .withColumn("resp", floor(col("c_acctbal")).cast("double")),
        "c_mktsegment", "resp", "c_custkey", folds = 5, prior = 5.0)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("oof_enc"), 6).as("oof_enc"))
        .orderBy("c_custkey")
    }),

    "q164_loo_target_encoding" -> ((s, dir) => {
      // leave-one-out target encoding on a train/apply mix: every 7th
      // row's response is masked (the apply-time slice — it gets FULL
      // level statistics), the rest encode from their level minus
      // themselves; integral response -> bit-exact sums
      GroupOps.looMeanResponse(
        tbl(s, dir, "customer")
          .withColumn("resp",
            when(col("c_custkey") % 7 === 0, lit(null).cast("double"))
              .otherwise(floor(col("c_acctbal")).cast("double"))),
        "c_mktsegment", "resp", prior = 5.0)
        .select(col("c_custkey"), col("c_mktsegment"),
          round(col("loo_enc"), 6).as("loo_enc"))
        .orderBy("c_custkey")
    }),

    "q166_psi_drift" -> ((s, dir) => {
      // PSI drift between the pre-1996 reference slice and the
      // current slice on order priority: per-level detail plus the
      // exact BIGINT nano-unit total (summation-order-independent,
      // reproduced digit-for-digit by the oracle)
      val o = tbl(s, dir, "orders")
      val ref = o.filter(col("o_orderdate") <
        to_timestamp(lit("1996-01-01")))
      val cur = o.filter(col("o_orderdate") >=
        to_timestamp(lit("1996-01-01")))
      Drift.psiByLevel(ref, cur, "o_orderpriority")
        .select(col("level"), round(col("p_ref"), 6).as("p_ref"),
          round(col("p_cur"), 6).as("p_cur"),
          round(col("psi_term"), 6).as("psi_term"),
          col("psi_total_nano"))
        .orderBy("level")
    }),

    "q258_ks_drift" -> ((s, dir) => {
      // exact two-sample KS per event type between the even- and
      // odd-user slices: the binning-free companion of q166's PSI —
      // the max runs over cross-multiplied integer CDF gaps, so the
      // statistic is exact and the single float division happens at
      // readout
      val e = tbl(s, dir, "events")
      val ref = e.filter(col("user_id") % 2 === 0)
      val cur = e.filter(col("user_id") % 2 === 1)
      Drift.ksDrift(ref, cur, "event_type", "value")
        .select(col("key"), col("n_ref"), col("n_cur"), col("ks_num"),
          round(col("ks"), 6).as("ks"))
        .orderBy("key")
    }),

    "q264_join_audit" -> ((s, dir) => {
      // pre-flight audit of the events->orders customer join: exact
      // orphan/match/fan-out accounting from two |keys|-row count
      // tables — the join's cardinality WITHOUT running the join
      graft.operators.Profile.joinAudit(
        tbl(s, dir, "events"), tbl(s, dir, "orders"),
        leftKey = "user_id", rightKey = "o_custkey")
    }),

    "q167_k_anonymity" -> ((s, dir) => {
      // k-anonymity / l-diversity audit before a table release:
      // quasi-identifiers (nation, account-balance band), sensitive =
      // market segment; every class size and diversity is an exact
      // integer the oracle recomputes
      val d = tbl(s, dir, "customer")
        .withColumn("band", floor(col("c_acctbal") / 1000))
      Privacy.kAnonymityAudit(d, Seq("c_nationkey", "band"),
        "c_mktsegment", k = 5, l = 3)
        .select(col("c_custkey"), col("eq_class_size"),
          col("sensitive_diversity"), col("k_anonymous"),
          col("l_diverse"))
        .orderBy("c_custkey")
    }),

    "q170_rank_auc" -> ((s, dir) => {
      // univariate feature screening: tie-corrected Mann-Whitney AUC
      // of two candidate features against a deterministic binary
      // label; the doubled numerator is an exact BIGINT the oracle
      // recomputes from the same distinct-value cumulative counts
      val cust = tbl(s, dir, "customer")
        .withColumn("y", (col("c_custkey") % 3 === 0).cast("int"))
      def one(score: String) =
        Eval.rankAuc(cust, score, "y")
          .withColumn("feature", lit(score))
      one("c_acctbal").unionByName(one("c_nationkey"))
        .select(col("feature"), col("n_pos"), col("n_neg"),
          col("n_excluded"), col("auc_num2"),
          round(col("auc"), 6).as("auc"))
        .orderBy("feature")
    }),

    "q171_information_value" -> ((s, dir) => {
      // IV table of document language against a deterministic binary
      // label: per-level WOE/IV terms plus the exact BIGINT nano-unit
      // feature total (the screening number next to q149's encoder)
      Eval.informationValue(
        tbl(s, dir, "documents")
          .withColumn("y", (col("doc_id") % 2 === 0).cast("int")),
        "lang", "y", alpha = 0.5)
        .select(col("level"), col("n_pos"), col("n_neg"),
          round(col("woe"), 6).as("woe"),
          round(col("iv_term"), 6).as("iv_term"),
          col("iv_total_nano"))
        .orderBy("level")
    }),

    "q259_cuped_adjust" -> ((s, dir) => {
      // CUPED-adjusted experiment metric per event-type cell: theta
      // fit from exact integer micro moments over complete
      // (payload-size, value) pairs, per-row readout one fixed double
      // expression; missing covariate rows pass through unadjusted
      Eval.cupedAdjust(
        tbl(s, dir, "events")
          .withColumn("pl", length(col("props")).cast("double")),
        metricCol = "value", covariateCol = "pl",
        keyCol = "event_type")
        .select(col("event_id"),
          round(col("value_cuped"), 6).as("adj"),
          round(col("value_theta"), 6).as("theta"))
        .orderBy("event_id")
    }),

    "q172_aspect_batches" -> ((s, dir) => {
      // aspect-ratio bucketed batch packing (the SDXL bucketing
      // layout): integer milli-aspect bands, per-bucket rank via the
      // two-phase cumsum (NO partition-by-bucket window), fixed-size
      // batches with the trailing partial kept — every position is an
      // integer the oracle recomputes with ROW_NUMBER
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q172")
        .select("image_id", "w", "h")
      graft.multimodal.AspectBatch.aspectRatioBatches(imgs,
        "image_id", "w", "h", batchSize = 8)
        .select(col("image_id"), col("bucket"), col("seq"),
          col("batch_id"), col("slot"))
        .orderBy("image_id")
    }),

    "q179_column_profile" -> ((s, dir) => {
      // pre-fit data-quality gate: one melted pass profiles coverage,
      // null rate and exact distinct cardinality for four columns
      graft.operators.Profile.columnProfile(
        tbl(s, dir, "customer"),
        Seq("c_mktsegment", "c_nationkey", "c_acctbal", "c_name"))
        .select(col("column"), col("n"), col("n_null"),
          col("n_distinct"), round(col("null_rate"), 6).as("null_rate"))
        .orderBy("column")
    }),

    "q198_feature_assembly" -> ((s, dir) => {
      // the model-facing row vector: three features (two with
      // deterministic null injection) assembled under the zero
      // policy with the exact null bitmask; slots certified via
      // element_at unpacking
      val d = tbl(s, dir, "lineitem")
        .withColumn("q", when(col("l_orderkey") % 11 === 0,
          lit(null).cast("double")).otherwise(col("l_quantity")))
        .withColumn("disc", when(col("l_linenumber") % 3 === 0,
          lit(null).cast("double")).otherwise(col("l_discount")))
      graft.operators.Assemble.features(d,
        Seq("q", "l_extendedprice", "disc"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("features_null_mask").as("mask"),
          round(element_at(col("features"), 1), 6).as("f0"),
          round(element_at(col("features"), 2), 6).as("f1"),
          round(element_at(col("features"), 3), 6).as("f2"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q194_benford_audit" -> ((s, dir) => {
      // forensic digit audit: floored prices follow Benford closely
      // (natural multi-decade magnitudes); uniform synthetic keys
      // legitimately blow the chi2 up — the audit reports both
      val d = tbl(s, dir, "lineitem").withColumn("price_int",
        floor(col("l_extendedprice")).cast("long"))
      graft.operators.Profile.benfordAudit(d,
        Seq("l_orderkey", "l_partkey", "price_int"))
        .select(Seq(col("column"), col("n")) ++
          (1 to 9).map(k => col(s"c$k")) :+
          round(col("chi2"), 6).as("chi2"): _*)
        .orderBy("column")
    }),

    "q204_freshness_report" -> ((s, dir) => {
      // feed health before trusting as-of right sides: per
      // (event type, shard) feed key, last event + exact integer-us
      // staleness behind the corpus's newest event, flagged beyond
      // 24h; multi-key + nulls-first ordering both driver-gated
      val d = tbl(s, dir, "events")
        .withColumn("shard", pmod(col("user_id"), lit(3L)))
      graft.operators.Profile.freshnessReport(d,
        Seq("event_type", "shard"), "ts", staleAfterSeconds = 86400L)
        .select(col("event_type"), col("shard"), col("n"),
          col("last_ts"), col("staleness_us"), col("stale"))
        .orderBy(asc_nulls_first("event_type"),
          asc_nulls_first("shard"))
    }),

    "q191_skew_report" -> ((s, dir) => {
      // pre-join skew planning: every key whose row share exceeds
      // 0.5% plus the exact-integer salt factor that would level it
      // across 32 partitions; threshold-based, so output stays
      // bounded regardless of key cardinality
      graft.operators.Profile.skewReport(tbl(s, dir, "events"),
        Seq("event_type", "user_id"), shareThreshold = 0.005,
        partitions = 32)
        .select(col("column"), col("key"), col("key_is_null"),
          col("cnt"), round(col("share"), 6).as("share"),
          col("salt_factor"))
        .orderBy("column", "key")
    }),

    "q186_profile_drift" -> ((s, dir) => {
      // train/serve structural drift report: profile the even-id
      // snapshot vs the odd-id snapshot of the event log and flag
      // null-rate moves > 0.05 and distinct-cardinality swings
      // outside [0.5, 2] per column
      val ev = tbl(s, dir, "events")
      graft.operators.Profile.profileDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        Seq("event_type", "user_id", "value", "props"))
        .select(col("column"), col("n_ref"), col("n_cur"),
          round(col("null_rate_ref"), 6).as("null_rate_ref"),
          round(col("null_rate_cur"), 6).as("null_rate_cur"),
          round(col("null_rate_delta"), 6).as("null_rate_delta"),
          col("n_distinct_ref"), col("n_distinct_cur"),
          round(col("distinct_ratio"), 6).as("distinct_ratio"),
          col("drifted"))
        .orderBy("column")
    }),

    "q180_resize_plan" -> ((s, dir) => {
      // the geometry handed to the decode/resize kernel: per-image
      // aspect-preserving scale into its bucket target + symmetric
      // letterbox pads — broadcast |buckets|-row join, codegen'd
      // projection, every output an integer the oracle recomputes
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q180")
        .select("image_id", "w", "h")
      graft.multimodal.AspectBatch.resizePlan(imgs, "w", "h",
        pixelBudget = 1024L * 1024L, multiple = 64)
        .select(col("image_id"), col("bucket"), col("target_w"),
          col("target_h"), col("new_w"), col("new_h"), col("pad_x"),
          col("pad_y"))
        .orderBy("image_id")
    }),

    "q178_spearman" -> ((s, dir) => {
      // tie-corrected Spearman via Pearson on doubled average ranks:
      // every moment is an exact BIGINT the oracle reproduces, and
      // the final rho is one deterministic double expression
      Eval.spearman(tbl(s, dir, "customer"), "c_acctbal",
        "c_nationkey")
        .select(col("n"), col("n_excluded"), col("sum_u"),
          col("sum_v"), col("sum_uv"), col("sum_u2"), col("sum_v2"),
          round(col("rho"), 6).as("rho"))
    }),

    "q176_chi2_mi_screen" -> ((s, dir) => {
      // chi-squared + mutual-information feature screen on order
      // priority vs a deterministic binary label: per-level terms plus
      // exact BIGINT nano totals (MI in nats)
      Eval.chiSqMutualInfo(
        tbl(s, dir, "orders")
          .withColumn("y", (col("o_orderkey") % 3 === 0).cast("int")),
        "o_orderpriority", "y")
        .select(col("level"), col("n_pos"), col("n_neg"),
          round(col("chi2_term"), 6).as("chi2_term"),
          round(col("mi_term"), 6).as("mi_term"),
          col("chi2_total_nano"), col("mi_total_nano"))
        .orderBy("level")
    }),

    "q173_bucket_resolutions" -> ((s, dir) => {
      // the resize-stage companion of q172: per-bucket (target_w,
      // target_h) at a 1-megapixel budget snapped DOWN to multiples
      // of 64 — IEEE sqrt + mirrored operand order makes every digit
      // reproducible in the oracle
      val imgs = oracleImages(s, 600, "/tmp/graft_oracle_images_q173")
        .select("image_id", "w", "h")
      graft.multimodal.AspectBatch.bucketResolutions(imgs, "w", "h",
        pixelBudget = 1024L * 1024L, multiple = 64)
        .select(col("bucket"), col("n_images"), col("aspect_milli"),
          col("target_w"), col("target_h"))
        .orderBy("bucket")
    }),

    "q174_calibration_table" -> ((s, dir) => {
      // reliability table of a deterministic [0,1] score against a
      // binary label: exact bin counts, micro-unit score mass, and
      // the count-weighted ECE total in BIGINT nano-units
      Eval.calibrationTable(
        tbl(s, dir, "customer")
          .withColumn("score",
            (col("c_custkey") % 101).cast("double") / 100.0)
          .withColumn("y", (col("c_custkey") % 3 === 0).cast("int")),
        "score", "y", bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          col("sum_score_micro"),
          round(col("mean_pred"), 6).as("mean_pred"),
          round(col("frac_pos"), 6).as("frac_pos"), col("ece_nano"))
        .orderBy("bin")
    }),

    "q97_ivf_query_pinned" -> ((s, dir) => {
      // IVF QUERY path with a PINNED coarse quantizer (the Lloyd fit
      // itself stays spec-pinned, like q54/q92): list assignment,
      // nprobe probing and exact rerank are all integer/quantized
      // arithmetic the oracle recomputes — flips the IVF search from
      // rows-only to value-exact
      val e = tbl(s, dir, "embeddings")
      val model = Knn.IvfModel(PinnedIvf.cents)
      val lists = Knn.ivfLists(model, e, "vec_id", "embedding")
      Knn.ivfQuery(model, lists, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, nprobe = 2)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q98_lsh_query_pinned" -> ((s, dir) => {
      // LSH search with PINNED hyperplanes (the codegen'd quantized
      // dot product makes the sign bits exact integer decisions the
      // oracle reproduces) — banded bucket join + exact rerank,
      // value-exact like the IVF/PQ pinned-model oracles
      val e = tbl(s, dir, "embeddings")
      Knn.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", "vec_id", k = 5, bitsPerTable = 2, tables = 4,
        pinnedPlanes = Some(PinnedLsh.planes))
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q99_vocabulary" -> ((s, dir) => {
      // dense frequency-ranked vocab ids WITHOUT a single-partition
      // window (two-phase range-partitioned global rank)
      TextOps.vocabulary(tbl(s, dir, "documents"), "text",
        minCount = 5L)
        .orderBy("id")
    }),

    "q100_hard_negatives" -> ((s, dir) => {
      // contrastive-training negative mining: the rank-11..20 band —
      // similar but not nearest — per query
      val e = tbl(s, dir, "embeddings")
      Knn.hardNegatives(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", "vec_id", skipTop = 10, take = 10)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q111_ivfpq_query_pinned" -> ((s, dir) => {
      // IVF-PQ composed index (FAISS IVFPQ shape) under PINNED
      // models: coarse assignment, nprobe probing, ADC scoring over
      // m-byte codes and the exact shortlist rerank are ALL
      // integer/IEEE-deterministic arithmetic the oracle recomputes —
      // the full production ANN path, value-exact
      val e = tbl(s, dir, "embeddings")
      Knn.ivfPqTopK(Knn.IvfModel(PinnedIvf8.cents), PinnedPq.model,
        e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
        "vec_id", k = 5, nprobe = 3, shortlist = 12)
        .select(col("query_id"), col("rank"), col("item_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }),

    "q114_embedding_dedup_e2e" -> ((s, dir) => {
      // the multimodal counterpart of q83: SEMANTIC dedup over the
      // embedding space — blocked cosine near-dup pairs -> connected
      // components -> one canonical vector per cluster (plus all
      // untouched vectors). The oracle closes the same pair graph
      // with a recursive CTE, so LSH-free blocked recall AND the
      // component dedup are certified in one signal
      val e = tbl(s, dir, "embeddings").withColumn("blk", col("label"))
      val pairs = Dedup.embeddingNearDups(e, "vec_id", "embedding",
        "blk", threshold = 0.25)
      Components.dedupByComponents(e, "vec_id", pairs, "id_a", "id_b")
        .select(col("vec_id")).orderBy("vec_id")
    }),

    "q101_cluster_histogram" -> ((s, dir) => {
      // dedup quality report: distribution of duplicate-cluster sizes
      val d = docsWithDups(s, dir).withColumn("blk", col("doc_id") % 50)
      val edges = Dedup.blockedJaccard(d, "doc_id", "text", "blk")
        .filter(col("jaccard") >= 0.5)
      Components.clusterSizeHistogram(edges, "id_a", "id_b")
        .orderBy("cluster_size")
    }),

    "q102_corpus_report" -> ((s, dir) => {
      // one-row per-snapshot data-quality summary over the corpus
      // with injected exact dups (so dup_rate is non-trivial)
      TextOps.corpusReport(docsWithExact(s, dir), "text", "lang")
        .select(col("n_docs"), col("total_tokens"), col("n_langs"),
          round(col("dup_rate"), 6).as("dup_rate"),
          round(col("lang_entropy"), 6).as("lang_entropy"))
    }),

    "q80_group_zscore" -> ((s, dir) => {
      // per-group standardization as agg + join-back (NOT a window:
      // a hot group would buffer in one task); population std,
      // zero-variance -> divide by 1 (sklearn parity)
      GroupOps.standardizeByGroup(
        tbl(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"),
            col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice")),
        "l_returnflag", Seq("l_quantity", "l_extendedprice"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          round(col("l_quantity_z"), 6).as("q_z"),
          round(col("l_extendedprice_z"), 6).as("price_z"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q126_ngram_span_dedup" -> ((s, dir) => {
      // Lee et al.-style exact-substring dedup, relationally: maximal
      // duplicated 8-token spans over a corpus with known suffix twins
      // (every 10th doc re-appears minus its first token, so the
      // shared tail is duplicated BY CONSTRUCTION and both twins must
      // report the mirrored span). Oracle recomputes gram hashes,
      // global counts and the island merge in SQL.
      graft.text.SpanDedup.duplicatedSpans(
        docsWithDups(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_start")
    }),

    "q127_span_dedup_clean" -> ((s, dir) => {
      // the cut-the-spans-out variant: every token covered by a
      // duplicated 8-gram window is dropped and the text re-joined;
      // fully-duplicated docs survive as empty strings (one row per
      // input doc, including the twins)
      graft.text.SpanDedup.removeDuplicatedSpans(
        docsWithDups(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    "q128_cms_heavy_hitters" -> ((s, dir) => {
      // Count-Min sketch heavy hitters: 4x512 counter matrix,
      // point-queried for every distinct token; top-25 by estimate
      // with the exact count alongside (est >= true always — CMS only
      // over-counts). Oracle recomputes the same matrix + min-readout.
      //
      // Round 6: this query also needs EXACT per-token counts (the
      // `true_cnt` column), so the counters are built from the count
      // table through cmsCounters' documented weighted path — counter
      // values are bit-identical (both sides sum exact integer-valued
      // doubles; cnt[d][b] = Σ_{tokens in bucket} count(token) either
      // way) but the 4 md5 bucket hashes are paid per DISTINCT token
      // instead of per occurrence, and the count aggregation subtree
      // is shared with the truth/probe sides of cmsTop25 (one
      // ReusedExchange instead of three token-stream scans).
      // cmsCounters over the raw stream stays the production path
      // when exact counts are NOT otherwise needed (q133 streams it).
      cmsTop25(s, dir, graft.core.Sketch.cmsCounters(
        tokenCounts(s, dir), "token", depth = 4, width = 512,
        weight = col("true_cnt")))
    }),

    "q150_hll_distinct" -> ((s, dir) => {
      // HyperLogLog cardinality: 512-register sketch over the token
      // stream — bounded state where exact count(distinct) shuffles
      // |distinct| rows. The register build AND the full readout
      // (exact integer micro-unit 2^-rho sum, alpha bias, linear-
      // counting branch) are certified against a DuckDB replay; the
      // exact distinct count rides along (demo context only — the
      // production path never computes it)
      val toks = tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
      hllReadout512(s, dir,
        graft.core.Hll.hllRegisters(toks, "token", p = 9))
    }),

    "q157_hll_by_source" -> ((s, dir) => {
      // per-source distinct-token estimates (the vocabulary-growth
      // dashboard): one bounded HLL per source, exact integer
      // micro-unit readout, true distinct alongside — the per-group
      // companion of q150's global sketch
      val toks = tbl(s, dir, "documents")
        .select(col("source"),
          explode(split(col("text"), " ")).as("token"))
      val est = graft.core.Hll.hllReadoutByKey(
        graft.core.Hll.hllRegistersByKey(toks, "source", "token",
          p = 9), p = 9)
        .withColumn("estimate", round(col("estimate"), 4))
      val truth = toks.groupBy(col("source").as("__src"))
        .agg(count_distinct(col("token")).as("n_true"))
      est.join(truth, col("key") === col("__src"))
        .select(col("key").as("source"), col("n_present"),
          col("s_micro"), col("estimate"), col("n_true"))
        .orderBy("source")
    }),

    "q162_rolling_distinct" -> ((s, dir) => {
      // "distinct items per user per day" — the canonical feature-
      // store cardinality feature, composed from the typed JSON
      // extractor (q155) and the per-key HLL (q157): state per
      // (user, day) is bounded by min(cardinality, 512) ints however
      // many events arrive. Exact distinct rides along as demo truth
      val ev = tbl(s, dir, "events")
        .select(concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd")).as("key"),
          get_json_object(col("props"), "$.k").as("item"))
      val est = graft.core.Hll.hllReadoutByKey(
        graft.core.Hll.hllRegistersByKey(ev, "key", "item", p = 9),
        p = 9)
        .withColumn("estimate", round(col("estimate"), 4))
      val truth = ev.filter(col("item").isNotNull)
        .groupBy(col("key").as("__k"))
        .agg(count_distinct(col("item")).as("n_true"))
      est.join(truth, col("key") === col("__k"))
        .select(col("key"), col("n_present"), col("estimate"),
          col("n_true"))
        .orderBy("key")
    }),

    "q129_dataset_split" -> ((s, dir) => {
      // deterministic salted-hash train/val/test split: ids never
      // migrate between splits as the corpus grows (unlike
      // randomSplit), reproducible in any engine with md5
      Sharding.hashSplit(tbl(s, dir, "documents"), "doc_id", "r3",
        Seq("train" -> 80, "val" -> 90, "test" -> 100))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q130_weighted_sample" -> ((s, dir) => {
      // Efraimidis–Spirakis weighted sampling without replacement,
      // 20 docs per language weighted by n_chars, through the
      // bounded-heap top-k aggregate; oracle ranks the same
      // deterministic keys with a row_number window
      Sharding.weightedSamplePerGroup(tbl(s, dir, "documents"),
        "lang", "doc_id", "n_chars", k = 20, salt = "ws")
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy("lang", "rank")
    }),

    "q131_pii_scrub" -> ((s, dir) => {
      // PII scrubbing (C4/Dolma-style curation pass) over a corpus
      // with deterministically injected emails/phones/IPs — pure
      // codegen'd projection, RE2-safe patterns so the oracle's regex
      // engine finds the SAME matches
      val d = tbl(s, dir, "documents")
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" contact "),
            format_string("user%d@example.com", col("doc_id")),
            lit(" or "),
            format_string("555-867-%04d", pmod(col("doc_id"), lit(10000))),
            lit(" at "),
            format_string("10.0.%d.%d", pmod(col("doc_id"), lit(256)),
              pmod(col("doc_id"), lit(100)))))
          .otherwise(col("text")))
      TextOps.scrubPii(d, "text")
        .select(col("doc_id"), col("n_redactions"), col("clean_text"))
        .orderBy("doc_id")
    }),

    "q132_mixture_sample" -> ((s, dir) => {
      // data mixing (Pile/Dolma): down-sample per language toward a
      // 30k-token budget at en 0.5 / de 0.3 / zh 0.2; keep rates and
      // thresholds computed INSIDE the plan (no driver fit), rows
      // kept by the deterministic mixHash filter
      TextOps.mixtureSample(tbl(s, dir, "documents"), "lang",
        "doc_id", "n_chars",
        Map("en" -> 0.5, "de" -> 0.3, "zh" -> 0.2),
        tokenBudget = 30000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q156_temperature_mixture" -> ((s, dir) => {
      // alpha=0.5 temperature sampling: shares DERIVED from observed
      // per-language token mass (n^0.5 renormalized — upweights
      // low-resource langs), thresholds engine-exact via the sorted
      // 12dp-rounded fold; oracle replays the identical ordered fold
      TextOps.temperatureMixtureSample(tbl(s, dir, "documents"),
        "lang", "doc_id", "n_chars", alpha = 0.5,
        tokenBudget = 30000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q161_mixture_plan" -> ((s, dir) => {
      // the plan q156 executes: per-language mass, alpha=0.5 share,
      // keep rate, expected kept tokens, and the exact integer hash
      // threshold — same code path as the sampler, so plan ==
      // execution by construction
      TextOps.temperatureMixturePlan(tbl(s, dir, "documents"),
        "lang", "n_chars", alpha = 0.5, tokenBudget = 30000L)
        .select(col("lang"), col("n_tokens"),
          round(col("share"), 12).as("share"),
          round(col("keep_rate"), 6).as("keep_rate"),
          round(col("expected_tokens"), 4).as("expected_tokens"),
          col("hash_threshold"))
        .orderBy("lang")
    }),

    "q135_flat_image_gate" -> ((s, dir) => {
      // low-information image filter end to end: real-codec table with
      // every 20th payload replaced by a constant-gray PNG (the blank-
      // thumbnail/placeholder junk class), lumaStats decode pass, gate
      // on near-zero pixel variance. The oracle knows the flattened
      // ids by construction, so the operator's DECODED VERDICTS are
      // value-checked (normal synthetic renders have std_luma >> 2)
      val flattened = plantedImages(ImageTable.imagesReal(s, 300),
        corrupt = false)
      Multimodal.lumaStats(flattened, flatStd = 2.0)
        .filter(col("flat"))
        .select("image_id")
        .orderBy("image_id")
    }),

    "q139_duplication_ratio" -> ((s, dir) => {
      // the novelty quality signal over the suffix-twin corpus:
      // fraction of each doc's 8-token windows duplicated corpus-wide
      graft.text.SpanDedup.duplicationRatio(
        docsWithDups(s, dir), "doc_id", "text", n = 8)
        .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
          round(col("dup_ratio"), 6).as("dup_ratio"))
        .orderBy("doc_id")
    }),

    "q138_source_report" -> ((s, dir) => {
      // per-source quality dashboard: volume, dup rate, mean composite
      // quality, declared-vs-detected language agreement — the table a
      // mixture designer reads before setting q132's weights
      TextOps.sourceReportCard(tbl(s, dir, "documents"),
        "source", "text", "lang")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          round(col("dup_rate"), 6).as("dup_rate"),
          round(col("mean_quality"), 6).as("mean_quality"),
          round(col("lang_agreement"), 6).as("lang_agreement"))
        .orderBy("source")
    }),

    "q136_dhash_transcode" -> ((s, dir) => {
      // gradient hash closed loop, the q124 construction: lossless
      // transcode twins must dHash identically (the hash reads pixel
      // gradients, not container bytes)
      val base = ImageTable.imagesReal(s, 150)
      val dups = Multimodal.transcode(
        base.filter(expr("CAST(substring(image_id, 5) AS BIGINT) % 10 = 0")),
        "png")
        .withColumn("image_id", concat(col("image_id"), lit("_d")))
      val hashed = Multimodal.differenceHash(base.unionByName(dups))
        .select(col("image_id"), col("dhash"), col("dhash_ok"))
      val twins = hashed.filter(col("image_id").endsWith("_d"))
        .select(expr("substring(image_id, 1, 14)").as("image_id"),
          col("dhash").as("dhash_d"), col("dhash_ok").as("ok_d"))
      hashed.join(twins, "image_id")
        .select(col("image_id"),
          (col("dhash") === col("dhash_d") && col("dhash_ok") &&
            col("ok_d")).as("hash_invariant"))
        .orderBy("image_id")
    }),

    "q134_dsir_sample" -> ((s, dir) => {
      // DSIR data selection: pick the 50 raw docs whose hashed-unigram
      // distribution best matches the 'src0' target slice, by
      // Gumbel-top-k over exact integer micro-unit importance scores
      // (no driver fit anywhere — the 256-row ratio table is computed
      // in-plan and broadcast)
      val docs = tbl(s, dir, "documents")
      graft.text.Dsir.dsirSample(docs,
        docs.filter(col("source") === "src0"),
        "doc_id", "text", width = 256, k = 50)
        .orderBy("rank")
    }),

    "q205_snapshot_pruned_read" -> ((s, dir) => {
      // bucket-level scan pruning: a range-bucketed store records
      // per-bucket bounding boxes in the manifest; a selective range
      // read consults them and scans ONLY intersecting buckets. The
      // require() makes the skip itself driver-gated, the oracle makes
      // the surviving rows value-exact.
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_q205").toString
      val d = tbl(s, dir, "documents")
      val bucket = (col("doc_id") / lit(50L)).cast("int")
      graft.io.SnapshotStore.write(d, root, bucket,
        statsCols = Seq("doc_id"))
      val total = graft.io.SnapshotStore.manifest(root, 1).size
      val kept = graft.io.SnapshotStore.prunedManifest(
        root, "doc_id", Some(120L), Some(180L))
      require(kept.size < total,
        s"pruning skipped nothing ($total buckets, kept ${kept.size})")
      graft.io.SnapshotStore.readRange(s, root, "doc_id",
        Some(120L), Some(180L))
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q53_snapshot_lineage" -> ((s, dir) => {
      // checkpointed snapshot write + snapshot-scoped read-back:
      // per-bucket row counts come from the STORED data, so the oracle
      // also certifies the store round-trip
      val root = java.nio.file.Files
        .createTempDirectory("graft_snap_q53").toString
      val d = tbl(s, dir, "documents")
      val bucket = pmod(col("doc_id"), lit(16)).cast("int")
      graft.io.SnapshotStore.write(d, root, bucket, maxBucketsPerRun = 9)
      graft.io.SnapshotStore.write(d, root, bucket) // resume run
      require(graft.io.SnapshotStore.verify(s, root).isEmpty,
        "lineage verify failed")
      graft.io.SnapshotStore.read(s, root)
        .groupBy(pmod(col("doc_id"), lit(16)).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy("bucket")
    })
  )

  /** The HLL READOUT over a given register table — shared by q150
    * (batch-built registers) and q151 (stream-built registers) so the
    * two cannot drift: one-row (m, n_present, s_micro, estimate,
    * n_true), estimate rounded to 4dp (ln in the linear-counting
    * branch is the one 1-ulp-risk libm step).
    */
  private[graft] def hllReadout512(s: SparkSession, dir: String,
      regs: DataFrame): DataFrame = {
    val nTrue = tbl(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .agg(count_distinct(col("token")).as("n_true"))
    graft.core.Hll.hllReadout(regs, p = 9)
      .withColumn("estimate", round(col("estimate"), 4))
      .crossJoin(nTrue)
  }

  /** The SQL mirror of [[hllReadout512]] over batch-built registers —
    * shared by the q150 batch oracle and q151's streaming-equivalence
    * oracle.
    */
  private[graft] val hllDistinctSql: String = {
    val alpha = graft.core.Hll.alphaM(512L)
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |h AS (SELECT CAST('0x' || substring(md5(token), 1, 15)
      |    AS BIGINT) AS h FROM tok),
      |rr AS (SELECT CAST(h % 512 AS INTEGER) AS reg,
      |    LEAST(CASE WHEN (h >> 9) = 0 THEN 52
      |      ELSE 51 - length(bin(h >> 9)) + 1 END, 40) AS rho
      |  FROM h),
      |regs AS (SELECT reg, MAX(rho) AS rho FROM rr GROUP BY reg),
      |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_present,
      |    CAST(SUM(1::BIGINT << (40 - rho)) AS BIGINT) AS s_present
      |  FROM regs),
      |st AS (SELECT CAST(512 AS BIGINT) AS m, n_present,
      |    s_present + (512 - n_present) * (1::BIGINT << 40) AS s_micro
      |  FROM a),
      |e AS (SELECT m, n_present, s_micro,
      |    CAST('$alpha' AS DOUBLE) * CAST(512 AS DOUBLE)
      |      * CAST(512 AS DOUBLE)
      |      / (CAST(s_micro AS DOUBLE)
      |         / CAST(1::BIGINT << 40 AS DOUBLE)) AS e_raw
      |  FROM st)
      |SELECT m, n_present, s_micro,
      |  ROUND(CASE WHEN e_raw <= CAST(1280 AS DOUBLE)
      |      AND (m - n_present) > 0
      |    THEN CAST(512 AS DOUBLE)
      |      * ln(CAST(512 AS DOUBLE) / CAST(m - n_present AS DOUBLE))
      |    ELSE e_raw END, 4) AS estimate,
      |  (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) FROM tok)
      |    AS n_true
      |FROM e""".stripMargin
  }

  /** The CMS heavy-hitter READOUT over a given counter table — shared
    * by q128 (batch-built counters) and q133 (stream-built counters)
    * so the two queries cannot drift: point-query every distinct
    * documents token, attach exact counts, top-25 by (est desc,
    * token).
    */
  /** Exact per-token counts over the document token stream — the ONE
    * token-explode pass q128/q133's readout derives everything from
    * (truth column, CMS probe candidates, and — in q128 — the
    * weighted counter build): identical subtrees collapse to a single
    * aggregation + ReusedExchange in the final plan.
    */
  private[graft] def tokenCounts(s: SparkSession, dir: String)
      : DataFrame =
    tbl(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("true_cnt"))

  private[graft] def cmsTop25(s: SparkSession, dir: String,
      counters: DataFrame): DataFrame = {
    val truth = tokenCounts(s, dir)
    // probes are DISTINCT tokens = exactly the truth keys (round 6:
    // probing the raw occurrence stream re-hashed every occurrence;
    // cmsEstimate's internal distinct makes the candidate set equal)
    graft.core.Sketch.cmsEstimate(counters, truth, "token",
      depth = 4, width = 512)
      .join(truth, col("item") === col("token"))
      .select(col("token"), col("est"), col("true_cnt"))
      .orderBy(col("est").desc, col("token"))
      .limit(25)
  }

  /** The SQL mirror of [[cmsTop25]] over batch counters — shared by
    * the q128 batch oracle and q133's streaming-equivalence oracle:
    * the stream-built counters must reproduce EXACTLY this.
    */
  private[graft] val cmsTop25Sql: String =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |buk AS (SELECT d, CAST(CAST('0x' || substring(
      |      md5(CAST(d AS VARCHAR) || ':' || token), 1, 15)
      |      AS BIGINT) % 512 AS INTEGER) AS b
      |  FROM tok, (SELECT unnest(range(0, 4)) AS d) dd),
      |cnt AS (SELECT d, b, CAST(count(*) AS DOUBLE) AS cnt
      |  FROM buk GROUP BY d, b),
      |probes AS (SELECT DISTINCT token FROM tok),
      |pb AS (SELECT token, d, CAST(CAST('0x' || substring(
      |      md5(CAST(d AS VARCHAR) || ':' || token), 1, 15)
      |      AS BIGINT) % 512 AS INTEGER) AS b
      |  FROM probes, (SELECT unnest(range(0, 4)) AS d) dd),
      |est AS (SELECT token, min(COALESCE(cnt, CAST(0 AS DOUBLE))) AS est
      |  FROM pb LEFT JOIN cnt USING (d, b) GROUP BY token),
      |tc AS (SELECT token, count(*) AS true_cnt FROM tok
      |  GROUP BY token)
      |SELECT token, est, true_cnt FROM est JOIN tc USING (token)
      |ORDER BY est DESC, token LIMIT 25""".stripMargin

  /** The A-ES weighted-sample readout (20 docs per lang weighted by
    * n_chars, salt "ws") — shared by the q130 batch oracle and q137's
    * streaming-equivalence oracle: the stream's merged top-k state
    * must reproduce EXACTLY this.
    */
  private[graft] val weightedSampleSql: String =
    """WITH w AS (SELECT lang, doc_id,
      |    round(ln((CAST('0x' || substring(
      |        md5(CAST(doc_id AS VARCHAR) || '#ws'), 1, 15)
      |        AS BIGINT) + 1) / 1152921504606846976.0)
      |      / n_chars, 9) AS key
      |  FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0),
      |r AS (SELECT lang, doc_id, row_number() OVER
      |    (PARTITION BY lang ORDER BY key DESC, doc_id) AS rank
      |  FROM w)
      |SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id
      |FROM r WHERE rank <= 20
      |ORDER BY lang, rank""".stripMargin

  /** q61's winnowing pipeline as SQL over ANY (doc_id, text) source —
    * shared by the q61 and q94 oracles (k=8, w=4).
    */
  private[graft] def winnowSql(src: String): String =
    s"""(WITH pos AS (
       |  SELECT doc_id, text,
       |         unnest(range(1, length(text) - 6)) AS i
       |  FROM ($src)
       |), grams AS (
       |  SELECT doc_id, i,
       |      CAST(ascii(substring(text, CAST(i     AS INTEGER), 1)) % 512 AS BIGINT) * 662062621900811
       |    + CAST(ascii(substring(text, CAST(i + 1 AS INTEGER), 1)) % 512 AS BIGINT) * 5053913144281
       |    + CAST(ascii(substring(text, CAST(i + 2 AS INTEGER), 1)) % 512 AS BIGINT) * 38579489651
       |    + CAST(ascii(substring(text, CAST(i + 3 AS INTEGER), 1)) % 512 AS BIGINT) * 294499921
       |    + CAST(ascii(substring(text, CAST(i + 4 AS INTEGER), 1)) % 512 AS BIGINT) * 2248091
       |    + CAST(ascii(substring(text, CAST(i + 5 AS INTEGER), 1)) % 512 AS BIGINT) * 17161
       |    + CAST(ascii(substring(text, CAST(i + 6 AS INTEGER), 1)) % 512 AS BIGINT) * 131
       |    + CAST(ascii(substring(text, CAST(i + 7 AS INTEGER), 1)) % 512 AS BIGINT) AS h
       |  FROM pos
       |), mins AS (
       |  SELECT doc_id,
       |    min(h) OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
       |    lead(h, 3) OVER (PARTITION BY doc_id ORDER BY i) AS lastw
       |  FROM grams
       |)
       |SELECT DISTINCT doc_id, fp FROM mins
       |WHERE lastw IS NOT NULL)""".stripMargin

  /** SQL list of [dist, idx] pairs vs the quantized `embedding`
    * column for a centroid set (the IVF assignment's argmin input).
    */
  private def ivfDistListSql(cents: Array[Array[Double]]): String = {
    val sub = "list_transform(embedding, " +
      "x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    cents.zipWithIndex.map { case (c, i) =>
      val cq = c.map(x => math.round(x * 1000))
      val n2 = cq.map(v => v * v).sum
      val lst = cq.mkString("[", ",", "]")
      s"[$n2 - 2 * list_sum(list_transform(list_zip($sub, $lst)," +
        s" x -> x[1] * x[2])), $i]"
    }.mkString("[", ", ", "]")
  }

  /** SQL signature expression over a quantized list column `v` for a
    * hyperplane set: bit b = sign(v . planes(b)), exactly
    * [[graft.ann.Knn.hyperplaneSigPinned]]'s integer decision.
    */
  private def lshSigSql(planes: Array[Array[Long]]): String =
    planes.zipWithIndex.map { case (p, b) =>
      val lst = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip(v, $lst)," +
        s" x -> x[1] * x[2])) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")

  /** The full IVF query-path oracle (assignment -> nprobe probing ->
    * exact cosine rerank) for any pinned centroid set — q97 and q60.
    */
  private[graft] def ivfOracleSql(cents: Array[Array[Double]], nprobe: Int,
      k: Int): String =
    s"""WITH q0 AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
       |      AS v,
       |    ${ivfDistListSql(cents)} AS dl
       |  FROM embeddings),
       |a AS (SELECT vec_id, v, list_sort(dl)[1][2] AS lst FROM q0),
       |p AS (SELECT vec_id AS query_id, v AS qv,
       |    list_transform(list_sort(dl)[1:$nprobe], x -> x[2]) AS pl
       |  FROM q0 WHERE vec_id < 5),
       |s AS (SELECT p.query_id, a.vec_id AS item_id,
       |    CAST(list_sum(list_transform(list_zip(a.v, p.qv),
       |      x -> x[1] * x[2])) AS DOUBLE) /
       |    (SQRT(CAST(list_sum(list_transform(a.v, x -> x * x))
       |       AS DOUBLE)) *
       |     SQRT(CAST(list_sum(list_transform(p.qv, x -> x * x))
       |       AS DOUBLE))) AS cosine
       |  FROM p JOIN a ON list_contains(p.pl, a.lst)),
       |r AS (SELECT query_id, item_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, item_id) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, rank, item_id, ROUND(cosine, 6) AS cosine
       |FROM r WHERE rank <= $k ORDER BY 1, 2""".stripMargin

  /** The full IVF-PQ search oracle (coarse assignment -> nprobe
    * probing -> ADC over pinned PQ codes -> shortlist -> exact
    * rerank) — q111. Subspace layout mirrors [[PinnedPq.model]]
    * (m = 2 subspaces of 32 dims, 4 centroids each); every arithmetic
    * step is integer or order-mirrored IEEE double, so DuckDB
    * reproduces the shortlist cut AND the final ranks bit-for-bit.
    */
  private def ivfPqOracleSql(ivfCents: Array[Array[Double]],
      nprobe: Int, shortlist: Int, k: Int): String = {
    val centsQ = PinnedPq.cents.map(_.map(x => math.round(x * 1000)))
    val centArr = centsQ.map(_.mkString("[", ",", "]"))
      .mkString("[", ", ", "]")
    val nnArr = centsQ.map(c => c.map(v => v * v).sum)
      .mkString("[", ",", "]")
    def ip(i: Int): String = {
      val lo = i * 32 + 1; val hi = (i + 1) * 32
      s"list_sum(list_transform(list_zip(($centArr)[a.c$i + 1], " +
        s"p.qv[$lo:$hi]), x -> x[1] * x[2]))"
    }
    def nn(i: Int): String = s"($nnArr)[a.c$i + 1]"
    s"""WITH q0 AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
       |      AS v,
       |    ${ivfDistListSql(ivfCents)} AS dl,
       |    CAST(${PinnedPq.argminSql(1, 32)} AS INTEGER) AS c0,
       |    CAST(${PinnedPq.argminSql(33, 64)} AS INTEGER) AS c1
       |  FROM embeddings),
       |a AS (SELECT vec_id, v, list_sort(dl)[1][2] AS lst, c0, c1
       |  FROM q0),
       |p AS (SELECT vec_id AS query_id, v AS qv,
       |    list_transform(list_sort(dl)[1:$nprobe], x -> x[2]) AS pl
       |  FROM q0 WHERE vec_id < 5),
       |adc AS (SELECT p.query_id, a.vec_id AS item_id, p.qv,
       |    CASE WHEN (CAST(${nn(0)} AS DOUBLE) +
       |               CAST(${nn(1)} AS DOUBLE)) = 0.0
       |        OR CAST(list_sum(list_transform(p.qv, x -> x * x))
       |             AS DOUBLE) = 0.0 THEN 0.0
       |    ELSE
       |    (CAST(${ip(0)} AS DOUBLE) + CAST(${ip(1)} AS DOUBLE)) /
       |    (SQRT(CAST(${nn(0)} AS DOUBLE) + CAST(${nn(1)} AS DOUBLE)) *
       |     SQRT(CAST(list_sum(list_transform(p.qv, x -> x * x))
       |       AS DOUBLE))) END AS cosine_pq
       |  FROM p JOIN a ON list_contains(p.pl, a.lst)),
       |sl AS (SELECT query_id, item_id, qv,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosine_pq DESC, item_id) AS srank
       |  FROM adc),
       |s AS (SELECT sl.query_id, sl.item_id,
       |    CAST(list_sum(list_transform(list_zip(a.v, sl.qv),
       |      x -> x[1] * x[2])) AS DOUBLE) /
       |    (SQRT(CAST(list_sum(list_transform(a.v, x -> x * x))
       |       AS DOUBLE)) *
       |     SQRT(CAST(list_sum(list_transform(sl.qv, x -> x * x))
       |       AS DOUBLE))) AS cosine
       |  FROM sl JOIN a ON sl.item_id = a.vec_id
       |  WHERE sl.srank <= $shortlist),
       |r AS (SELECT query_id, item_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, item_id) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, rank, item_id, ROUND(cosine, 6) AS cosine
       |FROM r WHERE rank <= $k ORDER BY 1, 2""".stripMargin
  }

  /** The full LSH search oracle (signature -> banded bucket join ->
    * exact cosine rerank) for any pinned plane set — q98 and q46.
    */
  private def lshOracleSql(planes: Array[Array[Long]],
      bitsPerTable: Int, tables: Int, k: Int): String = {
    val mask = (1L << bitsPerTable) - 1
    val vals = (0 until tables).map(t => s"($t)").mkString(", ")
    s"""WITH v0 AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
       |      AS v
       |  FROM embeddings),
       |sg AS (SELECT vec_id, v, ${lshSigSql(planes)} AS sig FROM v0),
       |b AS (SELECT vec_id, v, t.t AS tbl,
       |    (sig >> (t.t * $bitsPerTable)) & $mask AS bkt
       |  FROM sg, (VALUES $vals) t(t)),
       |cand AS (SELECT DISTINCT q.vec_id AS query_id,
       |    c.vec_id AS item_id
       |  FROM b c JOIN b q ON c.tbl = q.tbl AND c.bkt = q.bkt
       |  WHERE q.vec_id < 5),
       |s AS (SELECT cand.query_id, cand.item_id,
       |    CAST(list_sum(list_transform(list_zip(cv.v, qv.v),
       |      x -> x[1] * x[2])) AS DOUBLE) /
       |    (SQRT(CAST(list_sum(list_transform(cv.v, x -> x * x))
       |       AS DOUBLE)) *
       |     SQRT(CAST(list_sum(list_transform(qv.v, x -> x * x))
       |       AS DOUBLE))) AS cosine
       |  FROM cand
       |  JOIN v0 cv ON cand.item_id = cv.vec_id
       |  JOIN v0 qv ON cand.query_id = qv.vec_id),
       |r AS (SELECT query_id, item_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, item_id) AS INTEGER) AS rank
       |  FROM s)
       |SELECT query_id, rank, item_id, ROUND(cosine, 6) AS cosine
       |FROM r WHERE rank <= $k ORDER BY 1, 2""".stripMargin
  }

  /** Pinned 4-centroid IVF coarse quantizer over the 64-dim
    * embeddings (q97): assignment/probing distances are quantized
    * integers, SQL-reproducible like [[PinnedPq]].
    */
  private[graft] object PinnedIvf {
    val cents: Array[Array[Double]] = Array(
      Array.fill(64)(0.0),
      Array.fill(64)(0.5),
      Array.fill(64)(-0.5),
      Array.tabulate(64)(i => if (i % 2 == 0) 0.25 else -0.25))
  }

  /** Pinned 8-centroid IVF quantizer for q60 (nlist=8, nprobe=3):
    * denser than [[PinnedIvf]], so probing genuinely skips lists.
    */
  private object PinnedIvf8 {
    val cents: Array[Array[Double]] = Array.tabulate(8)(c =>
      Array.tabulate(64)(i => (((i * (c + 2) + c * 5) % 17) - 8) / 8.0))
  }

  /** Pinned 8-hyperplane LSH model for q98 (4 tables x 2 bits over
    * 64 dims): sign bits from integer dot products, SQL-reproducible.
    */
  private object PinnedLsh {
    val planes: Array[Array[Long]] = Array.tabulate(8)(b =>
      Array.tabulate(64)(i => ((i * (b + 3) + b * 7) % 21 - 10).toLong))
  }

  /** Pinned 2x4 PQ codebook for the q92 oracle: distances are exact
    * quantized-integer arithmetic, reproducible in SQL.
    */
  private object PinnedPq {
    val cents: Array[Array[Double]] = Array(
      Array.fill(32)(0.0),
      Array.fill(32)(0.5),
      Array.fill(32)(-0.5),
      Array.tabulate(32)(i => if (i % 2 == 0) 0.25 else -0.25))
    val model: Knn.PqModel =
      Knn.PqModel(2, 32, Array(cents, cents))

    /** DuckDB argmin over the same integer distance formula. */
    def argminSql(lo: Int, hi: Int): String = {
      val sub = s"list_transform(embedding[$lo:$hi], " +
        "x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
      val dists = cents.map { c =>
        val cq = c.map(x => math.round(x * 1000))
        val n2 = cq.map(v => v * v).sum
        val lst = cq.mkString("[", ",", "]")
        s"($n2 - 2 * list_sum(list_transform(list_zip($sub, $lst)," +
          " x -> x[1] * x[2])))"
      }
      // index of the minimum, ties -> lower index (strict < later)
      (1 until 4).foldLeft("0") { (acc, i) =>
        s"CASE WHEN ${dists(i)} < LEAST(${dists.take(i).mkString(",")})" +
          s" THEN $i ELSE $acc END"
      }
    }
  }

  /** Exhaustive rank-band-by-cosine truth over the quantized
    * embeddings (q45 ranks <= 10; q100 the 11..20 negatives band). */
  private def knnRankBandSql(loExcl: Int, hiIncl: Int): String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding,
       |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings),
       |s AS (SELECT qq.vec_id AS query_id, c.vec_id AS item_id,
       |  CAST(list_sum(list_transform(list_zip(c.v, qq.v),
       |    x -> x[1]*x[2])) AS DOUBLE) /
       |  (SQRT(CAST(list_sum(list_transform(c.v, x -> x*x))
       |        AS DOUBLE)) *
       |   SQRT(CAST(list_sum(list_transform(qq.v, x -> x*x))
       |        AS DOUBLE))) AS cosine
       |  FROM q c, (SELECT * FROM q WHERE vec_id < 5) qq),
       |r AS (SELECT query_id, item_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, item_id) AS INTEGER) AS rank FROM s)
       |SELECT query_id, rank, item_id, ROUND(cosine, 6) AS cosine
       |FROM r WHERE rank > $loExcl AND rank <= $hiIncl
       |ORDER BY 1, 2""".stripMargin

  private val knnTopkTruthSql = knnRankBandSql(0, 10)

  private def langHitsSql(l: String): String = {
    val words = TextOps.Stopwords(l).map(w => s"'$w'").mkString(",")
    s"len(list_filter(string_split(text,' '), x -> x IN ($words)))"
  }

  val oracles: Map[String, String] = Map(
    "q76_neardup_components" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id % 50 AS blk, doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id)
         |SELECT id, MIN(comp) AS component FROM cc
         |GROUP BY id ORDER BY id""".stripMargin,

    "q77_topk_per_group" ->
      """WITH r AS (SELECT source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank,
        |  CAST(n_chars AS DOUBLE) AS score, doc_id AS id
        |  FROM documents)
        |SELECT source, rank, score, id FROM r
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin,

    "q78_pack_shards" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before
        |  FROM d)
        |SELECT doc_id, n_tok, cum_before,
        |  CAST(FLOOR(CAST(cum_before AS DOUBLE) / 2000) AS BIGINT)
        |    AS shard
        |FROM c ORDER BY doc_id""".stripMargin,

    "q152_pack_context_blocks" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before
        |  FROM d)
        |SELECT doc_id, n_tok, cum_before,
        |  cum_before // 512 AS start_block,
        |  cum_before % 512 AS start_offset,
        |  (cum_before + GREATEST(n_tok, 1) - 1) // 512 AS end_block
        |FROM c ORDER BY doc_id""".stripMargin,

    "q79_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ((doc_id % 2147483648) * 2654435761) % 4294967296 <
        |  CASE lang WHEN 'en' THEN 2147483648
        |            WHEN 'zh' THEN 1073741824
        |            WHEN 'es' THEN 536870912
        |            WHEN 'de' THEN 4294967296
        |            ELSE -1 END
        |ORDER BY doc_id""".stripMargin,

    "q81_multimodal_resize" ->
      """WITH t AS (SELECT image_id, w, h, octet_length(bytes) AS len,
        |    hex(bytes) AS hx
        |  FROM read_parquet('/tmp/graft_oracle_images_q81/*.parquet')),
        |px AS (SELECT image_id, len,
        |  CAST('0x' || substring(hx,
        |    2 * CAST(((((i // 8) * h) // 8) * w +
        |              ((i % 8) * w) // 8) % len AS BIGINT) + 1, 2)
        |    AS BIGINT) AS v
        |  FROM t, (SELECT unnest(range(0, 64)) AS i)),
        |s AS (SELECT image_id, CAST(SUM(v) AS BIGINT) AS cks
        |  FROM px GROUP BY image_id)
        |SELECT image_id, CAST(8 AS INTEGER) AS resized_w,
        |  CAST(8 AS INTEGER) AS resized_h, cks AS resized_checksum,
        |  ROUND(cks / 64.0, 6) AS resized_mean,
        |  TRUE AS resize_ok
        |FROM s ORDER BY image_id""".stripMargin,

    "q82_frame_sample" ->
      """WITH t AS (SELECT image_id, hex(bytes) AS hx,
        |    CAST(octet_length(bytes) // 4 AS INTEGER) AS flen
        |  FROM read_parquet('/tmp/graft_oracle_images_q82/*.parquet')),
        |f AS (SELECT image_id, fi.frame_idx, flen,
        |    substring(hx, fi.frame_idx * flen * 2 + 1, flen * 2)
        |      AS fhx
        |  FROM t, (VALUES (0), (2)) fi(frame_idx))
        |SELECT image_id, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST('0x' || substring(
        |      md5(substring(fhx, 1, 512)), 1, 8) AS BIGINT)
        |    % 256000 / 1000.0 AS mean_luma,
        |  flen > 0 AS decode_ok
        |FROM f ORDER BY 1, 2""".stripMargin,

    "q83_dedup_end_to_end" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
         |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)
         |SELECT t.doc_id FROM t LEFT JOIN m ON t.doc_id = m.id
         |WHERE m.id IS NULL OR m.comp = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    "q84_sample_exact_count" ->
      """WITH r AS (SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY ((doc_id % 2147483648) * 2654435761) % 4294967296,
        |      doc_id)
        |    AS rn
        |  FROM documents)
        |SELECT lang, doc_id FROM r WHERE rn <= 7
        |ORDER BY lang, doc_id""".stripMargin,

    "q86_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.term, tf.tf,
        |  ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6)
        |    AS tfidf
        |FROM tf, n
        |JOIN dfreq ON tf.term = dfreq.term
        |WHERE tf.tf >= 3
        |ORDER BY 1, 2""".stripMargin,

    "q87_group_quantile_cap" ->
      """WITH g AS (SELECT l_returnflag AS k, l_quantity AS v,
        |    COUNT(*) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT k, v,
        |    SUM(w) OVER (PARTITION BY k ORDER BY v) * 1.0 /
        |      SUM(w) OVER (PARTITION BY k) AS f
        |  FROM g),
        |b AS (SELECT k,
        |  MAX(CASE WHEN f <= 0.05 THEN f END) AS flo_l,
        |  MAX(CASE WHEN f <= 0.05 THEN v END) AS vlo_l,
        |  MIN(CASE WHEN f >= 0.05 THEN f END) AS fhi_l,
        |  MIN(CASE WHEN f >= 0.05 THEN v END) AS vhi_l,
        |  MAX(CASE WHEN f <= 0.95 THEN f END) AS flo_h,
        |  MAX(CASE WHEN f <= 0.95 THEN v END) AS vlo_h,
        |  MIN(CASE WHEN f >= 0.95 THEN f END) AS fhi_h,
        |  MIN(CASE WHEN f >= 0.95 THEN v END) AS vhi_h
        |  FROM c GROUP BY k),
        |caps AS (SELECT k,
        |  CASE WHEN flo_l IS NULL THEN vhi_l
        |       WHEN fhi_l IS NULL OR fhi_l = flo_l THEN vlo_l
        |       ELSE vlo_l + (0.05 - flo_l)/(fhi_l - flo_l)
        |            * (vhi_l - vlo_l) END AS lo,
        |  CASE WHEN flo_h IS NULL THEN vhi_h
        |       WHEN fhi_h IS NULL OR fhi_h = flo_h THEN vlo_h
        |       ELSE vlo_h + (0.95 - flo_h)/(fhi_h - flo_h)
        |            * (vhi_h - vlo_h) END AS hi
        |  FROM b)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  CASE WHEN l.l_quantity IS NULL THEN NULL
        |       ELSE LEAST(GREATEST(l.l_quantity, caps.lo), caps.hi)
        |       END AS l_quantity
        |FROM lineitem l LEFT JOIN caps ON l.l_returnflag = caps.k
        |ORDER BY 1, 2""".stripMargin,

    // q87's exact interp-cap CTE feeding trimmed/winsorized
    // aggregation; counts exact BIGINTs, means round-6
    "q274_trimmed_stats" ->
      """WITH g AS (SELECT l_returnflag AS k, l_quantity AS v,
        |    COUNT(*) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT k, v,
        |    SUM(w) OVER (PARTITION BY k ORDER BY v) * 1.0 /
        |      SUM(w) OVER (PARTITION BY k) AS f
        |  FROM g),
        |b AS (SELECT k,
        |  MAX(CASE WHEN f <= 0.05 THEN f END) AS flo_l,
        |  MAX(CASE WHEN f <= 0.05 THEN v END) AS vlo_l,
        |  MIN(CASE WHEN f >= 0.05 THEN f END) AS fhi_l,
        |  MIN(CASE WHEN f >= 0.05 THEN v END) AS vhi_l,
        |  MAX(CASE WHEN f <= 0.95 THEN f END) AS flo_h,
        |  MAX(CASE WHEN f <= 0.95 THEN v END) AS vlo_h,
        |  MIN(CASE WHEN f >= 0.95 THEN f END) AS fhi_h,
        |  MIN(CASE WHEN f >= 0.95 THEN v END) AS vhi_h
        |  FROM c GROUP BY k),
        |caps AS (SELECT k,
        |  CASE WHEN flo_l IS NULL THEN vhi_l
        |       WHEN fhi_l IS NULL OR fhi_l = flo_l THEN vlo_l
        |       ELSE vlo_l + (0.05 - flo_l)/(fhi_l - flo_l)
        |            * (vhi_l - vlo_l) END AS lo,
        |  CASE WHEN flo_h IS NULL THEN vhi_h
        |       WHEN fhi_h IS NULL OR fhi_h = flo_h THEN vlo_h
        |       ELSE vlo_h + (0.95 - flo_h)/(fhi_h - flo_h)
        |            * (vhi_h - vlo_h) END AS hi
        |  FROM b)
        |SELECT l.l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(CASE WHEN l.l_quantity >= caps.lo
        |    AND l.l_quantity <= caps.hi THEN 1 END) AS BIGINT)
        |    AS n_kept,
        |  ROUND(AVG(CASE WHEN l.l_quantity >= caps.lo
        |    AND l.l_quantity <= caps.hi THEN l.l_quantity END), 6)
        |    AS trimmed_mean,
        |  ROUND(AVG(LEAST(GREATEST(l.l_quantity, caps.lo),
        |    caps.hi)), 6) AS winsorized_mean
        |FROM lineitem l LEFT JOIN caps ON l.l_returnflag = caps.k
        |WHERE l.l_quantity IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q90_hashing_encoder" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substring(md5(source), 1, 15) AS BIGINT)
        |    % 64 AS INTEGER) AS source_hash,
        |  CAST(CASE WHEN CAST('0x' || substring(md5(source), 17, 1)
        |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS INTEGER)
        |    AS source_sign,
        |  CAST(CAST('0x' || substring(md5(lang), 1, 15) AS BIGINT)
        |    % 64 AS INTEGER) AS lang_hash,
        |  CAST(CASE WHEN CAST('0x' || substring(md5(lang), 17, 1)
        |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS INTEGER)
        |    AS lang_sign
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q91_quantile_binner" ->
      """WITH g AS (SELECT l_quantity AS v, COUNT(*) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
        |c AS (SELECT v,
        |    SUM(w) OVER (ORDER BY v) * 1.0 /
        |      (SELECT SUM(w) FROM g) AS f
        |  FROM g),
        |qv(q) AS (VALUES (0.25), (0.5), (0.75)),
        |b AS (SELECT q,
        |  MAX(CASE WHEN f <= q THEN f END) AS flo,
        |  MAX(CASE WHEN f <= q THEN v END) AS vlo,
        |  MIN(CASE WHEN f >= q THEN f END) AS fhi,
        |  MIN(CASE WHEN f >= q THEN v END) AS vhi
        |  FROM c CROSS JOIN qv GROUP BY q),
        |e AS (SELECT q,
        |  CASE WHEN flo IS NULL THEN vhi
        |       WHEN fhi IS NULL OR fhi = flo THEN vlo
        |       ELSE vlo + (q - flo)/(fhi - flo) * (vhi - vlo)
        |       END AS edge
        |  FROM b)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity IS NULL THEN NULL
        |       ELSE CAST((SELECT COUNT(*) FROM e
        |                  WHERE l_quantity > e.edge) AS INTEGER)
        |       END AS l_quantity_qbin
        |FROM lineitem ORDER BY 1, 2""".stripMargin,

    "q88_group_robust_scale" ->
      """WITH g AS (SELECT l_returnflag AS k, l_quantity AS v,
        |    COUNT(*) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT k, v,
        |    SUM(w) OVER (PARTITION BY k ORDER BY v) * 1.0 /
        |      SUM(w) OVER (PARTITION BY k) AS f
        |  FROM g),
        |b AS (SELECT k,
        |  MAX(CASE WHEN f <= 0.25 THEN f END) AS flo1,
        |  MAX(CASE WHEN f <= 0.25 THEN v END) AS vlo1,
        |  MIN(CASE WHEN f >= 0.25 THEN f END) AS fhi1,
        |  MIN(CASE WHEN f >= 0.25 THEN v END) AS vhi1,
        |  MAX(CASE WHEN f <= 0.5 THEN f END) AS flo2,
        |  MAX(CASE WHEN f <= 0.5 THEN v END) AS vlo2,
        |  MIN(CASE WHEN f >= 0.5 THEN f END) AS fhi2,
        |  MIN(CASE WHEN f >= 0.5 THEN v END) AS vhi2,
        |  MAX(CASE WHEN f <= 0.75 THEN f END) AS flo3,
        |  MAX(CASE WHEN f <= 0.75 THEN v END) AS vlo3,
        |  MIN(CASE WHEN f >= 0.75 THEN f END) AS fhi3,
        |  MIN(CASE WHEN f >= 0.75 THEN v END) AS vhi3
        |  FROM c GROUP BY k),
        |s AS (SELECT k,
        |  CASE WHEN flo1 IS NULL THEN vhi1
        |       WHEN fhi1 IS NULL OR fhi1 = flo1 THEN vlo1
        |       ELSE vlo1 + (0.25 - flo1)/(fhi1 - flo1)
        |            * (vhi1 - vlo1) END AS q1,
        |  CASE WHEN flo2 IS NULL THEN vhi2
        |       WHEN fhi2 IS NULL OR fhi2 = flo2 THEN vlo2
        |       ELSE vlo2 + (0.5 - flo2)/(fhi2 - flo2)
        |            * (vhi2 - vlo2) END AS med,
        |  CASE WHEN flo3 IS NULL THEN vhi3
        |       WHEN fhi3 IS NULL OR fhi3 = flo3 THEN vlo3
        |       ELSE vlo3 + (0.75 - flo3)/(fhi3 - flo3)
        |            * (vhi3 - vlo3) END AS q3
        |  FROM b)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  CASE WHEN l.l_quantity IS NULL THEN NULL
        |       ELSE ROUND((l.l_quantity - s.med) /
        |         (CASE WHEN s.q3 - s.q1 = 0 THEN 1
        |               ELSE s.q3 - s.q1 END), 6) END AS q_rs
        |FROM lineitem l LEFT JOIN s ON l.l_returnflag = s.k
        |ORDER BY 1, 2""".stripMargin,

    // the q88 np.interp bracket mirror run TWICE: median of v, then
    // median of |v - med| per group; same interp operand order, so
    // med/mad (and hence the unrounded mz the flag compares) are
    // bit-identical before the display rounding
    "q184_mad_outliers" ->
      """WITH g AS (SELECT event_type AS k, value AS v, COUNT(*) AS w
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT k, v, SUM(w) OVER (PARTITION BY k ORDER BY v)
        |    * 1.0 / SUM(w) OVER (PARTITION BY k) AS f FROM g),
        |b AS (SELECT k,
        |  MAX(CASE WHEN f <= 0.5 THEN f END) AS flo,
        |  MAX(CASE WHEN f <= 0.5 THEN v END) AS vlo,
        |  MIN(CASE WHEN f >= 0.5 THEN f END) AS fhi,
        |  MIN(CASE WHEN f >= 0.5 THEN v END) AS vhi
        |  FROM c GROUP BY k),
        |m AS (SELECT k, CASE WHEN flo IS NULL THEN vhi
        |      WHEN fhi IS NULL OR fhi = flo THEN vlo
        |      ELSE vlo + (0.5 - flo)/(fhi - flo) * (vhi - vlo)
        |      END AS med FROM b),
        |d AS (SELECT e.event_id, e.event_type AS k, e.value AS v,
        |      m.med, ABS(e.value - m.med) AS dev
        |  FROM events e LEFT JOIN m ON e.event_type = m.k),
        |g2 AS (SELECT k, dev AS v, COUNT(*) AS w FROM d
        |  WHERE dev IS NOT NULL GROUP BY 1, 2),
        |c2 AS (SELECT k, v, SUM(w) OVER (PARTITION BY k ORDER BY v)
        |    * 1.0 / SUM(w) OVER (PARTITION BY k) AS f FROM g2),
        |b2 AS (SELECT k,
        |  MAX(CASE WHEN f <= 0.5 THEN f END) AS flo,
        |  MAX(CASE WHEN f <= 0.5 THEN v END) AS vlo,
        |  MIN(CASE WHEN f >= 0.5 THEN f END) AS fhi,
        |  MIN(CASE WHEN f >= 0.5 THEN v END) AS vhi
        |  FROM c2 GROUP BY k),
        |md AS (SELECT k, CASE WHEN flo IS NULL THEN vhi
        |      WHEN fhi IS NULL OR fhi = flo THEN vlo
        |      ELSE vlo + (0.5 - flo)/(fhi - flo) * (vhi - vlo)
        |      END AS mad FROM b2),
        |z AS (SELECT d.event_id,
        |    CASE WHEN d.v IS NULL OR d.med IS NULL OR md.mad IS NULL
        |        OR md.mad = 0 THEN NULL
        |      ELSE 0.6744897501960817 * (d.v - d.med) / md.mad
        |      END AS mz_raw
        |  FROM d LEFT JOIN md ON d.k = md.k)
        |SELECT event_id, ROUND(mz_raw, 6) AS mz,
        |  COALESCE(ABS(mz_raw) > 3.5, FALSE) AS is_outlier
        |FROM z ORDER BY 1""".stripMargin,

    "q89_group_pct_rank" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(CUME_DIST() OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity), 6) AS q_pct
        |FROM lineitem ORDER BY 1, 2""".stripMargin,

    "q94_decontamination" ->
      s"""SELECT c.doc_id AS corpus_id, t.doc_id AS test_id,
         |  count(*) AS shared_fps
         |FROM ${winnowSql("SELECT doc_id, text FROM documents")} c
         |JOIN ${winnowSql("SELECT doc_id + 2000000 AS doc_id, " +
            "text[21:] AS text FROM documents WHERE doc_id % 25 = 0")} t
         |ON c.fp = t.fp
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY 1, 2""".stripMargin,

    "q112_decontam_bloom" ->
      s"""SELECT c.doc_id AS corpus_id, t.doc_id AS test_id,
         |  count(*) AS shared_fps
         |FROM ${winnowSql("SELECT doc_id, text FROM documents")} c
         |JOIN ${winnowSql("SELECT doc_id + 3000000 AS doc_id, " +
            "text[11:] AS text FROM documents WHERE doc_id % 20 = 3")} t
         |ON c.fp = t.fp
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY 1, 2""".stripMargin,

    "q95_repetition_scores" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |base AS (SELECT doc_id,
        |  ROUND(1 - len(list_distinct(ts)) * 1.0 / len(ts), 6)
        |    AS dup_word_ratio
        |  FROM tok),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(ts) >= 2 THEN
        |    list_transform(range(0, len(ts) - 1),
        |      i -> array_to_string(ts[i+1:i+2], ' '))
        |    ELSE [] END) AS g
        |  FROM tok),
        |cnt AS (SELECT doc_id, g, count(*) AS n FROM bg GROUP BY 1, 2),
        |top AS (SELECT doc_id,
        |  ROUND(MAX(n) * 1.0 / SUM(n), 6) AS top_bigram_ratio
        |  FROM cnt GROUP BY doc_id)
        |SELECT b.doc_id, b.dup_word_ratio,
        |  COALESCE(t.top_bigram_ratio, 0.0) AS top_bigram_ratio
        |FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
        |ORDER BY 1""".stripMargin,

    "q93_incremental_dedup" ->
      s"""WITH t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE b.doc_id >= 1000000
         |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.s, b.s)))
         |           AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q100_hard_negatives" -> knnRankBandSql(10, 20),

    "q111_ivfpq_query_pinned" ->
      ivfPqOracleSql(PinnedIvf8.cents, nprobe = 3, shortlist = 12,
        k = 5),

    "q102_corpus_report" ->
      """WITH t AS (SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 = 0),
        |l AS (SELECT lang, count(*) AS n FROM t GROUP BY 1),
        |e AS (SELECT ln(CAST(SUM(n) AS DOUBLE)) -
        |    SUM(n * ln(CAST(n AS DOUBLE))) / SUM(n) AS h
        |  FROM l)
        |SELECT count(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |    AS total_tokens,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |  ROUND(1 - count(DISTINCT md5(text)) * 1.0 / count(text), 6)
        |    AS dup_rate,
        |  ROUND((SELECT h FROM e), 6) AS lang_entropy
        |FROM t""".stripMargin,

    "q101_cluster_histogram" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id % 50 AS blk, doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
         |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
         |cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM m GROUP BY comp)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q99_vocabulary" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT term, count(*) AS count FROM t GROUP BY 1
        |  HAVING count(*) >= 5)
        |SELECT term, count,
        |  CAST(row_number() OVER (ORDER BY count DESC, term) - 1
        |    AS BIGINT) AS id
        |FROM c ORDER BY id""".stripMargin,

    "q98_lsh_query_pinned" ->
      lshOracleSql(PinnedLsh.planes, bitsPerTable = 2, tables = 4,
        k = 5),

    "q46_knn_lsh" ->
      lshOracleSql(graft.ann.Knn.defaultPlanes(32, 64),
        bitsPerTable = 8, tables = 4, k = 10),

    "q97_ivf_query_pinned" ->
      ivfOracleSql(PinnedIvf.cents, nprobe = 2, k = 5),

    "q60_knn_ivf" ->
      ivfOracleSql(PinnedIvf8.cents, nprobe = 3, k = 10),

    "q92_pq_codes" ->
      s"""SELECT vec_id,
         |  CAST(${PinnedPq.argminSql(1, 32)} AS INTEGER) AS code_0,
         |  CAST(${PinnedPq.argminSql(33, 64)} AS INTEGER) AS code_1
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q96_oof_target_encoding" ->
      """WITH d AS (SELECT c_custkey, c_mktsegment,
        |    FLOOR(c_acctbal) AS y,
        |    CAST((((c_custkey % 2147483648) * 2654435761)
        |      % 4294967296) % 5
        |      AS INTEGER) AS f
        |  FROM customer),
        |s AS (SELECT c_mktsegment AS k, f, SUM(y) AS fs,
        |    COUNT(*) AS fc
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT k, SUM(fs) AS ts, CAST(SUM(fc) AS BIGINT) AS tc
        |  FROM s GROUP BY 1),
        |g AS (SELECT SUM(y) * 1.0 / COUNT(y) AS m FROM d)
        |SELECT d.c_custkey, d.c_mktsegment,
        |  ROUND((t.ts - COALESCE(s.fs, 0) + 5.0 * g.m) /
        |        (t.tc - COALESCE(s.fc, 0) + 5.0), 6) AS oof_enc
        |FROM d
        |JOIN t ON d.c_mktsegment = t.k
        |CROSS JOIN g
        |LEFT JOIN s ON d.c_mktsegment = s.k AND d.f = s.f
        |ORDER BY 1""".stripMargin,

    // the same two count tables full-joined; every readout is an
    // exact integer conditional sum over the |keys| rows
    "q264_join_audit" ->
      """WITH l AS (SELECT CAST(user_id AS VARCHAR) AS k,
        |    CAST(COUNT(*) AS BIGINT) AS lc FROM events GROUP BY 1),
        |r AS (SELECT CAST(o_custkey AS VARCHAR) AS k,
        |    CAST(COUNT(*) AS BIGINT) AS rc FROM orders GROUP BY 1),
        |j AS (SELECT COALESCE(l.k, r.k) AS k0,
        |    COALESCE(lc, 0) AS lc, COALESCE(rc, 0) AS rc
        |  FROM l FULL JOIN r ON l.k = r.k)
        |SELECT CAST(SUM(lc) AS BIGINT) AS n_left,
        |  CAST(SUM(rc) AS BIGINT) AS n_right,
        |  CAST(SUM(CASE WHEN k0 IS NULL THEN lc ELSE 0 END)
        |    AS BIGINT) AS null_key_left,
        |  CAST(SUM(CASE WHEN k0 IS NULL THEN rc ELSE 0 END)
        |    AS BIGINT) AS null_key_right,
        |  COUNT(CASE WHEN k0 IS NOT NULL AND lc > 0 THEN 1 END)
        |    AS distinct_left,
        |  COUNT(CASE WHEN k0 IS NOT NULL AND rc > 0 THEN 1 END)
        |    AS distinct_right,
        |  CAST(SUM(CASE WHEN k0 IS NOT NULL AND rc > 0 THEN lc
        |    ELSE 0 END) AS BIGINT) AS matched_left,
        |  CAST(SUM(CASE WHEN k0 IS NOT NULL AND lc > 0 THEN rc
        |    ELSE 0 END) AS BIGINT) AS matched_right,
        |  CAST(SUM(CASE WHEN k0 IS NOT NULL AND rc = 0 THEN lc
        |    ELSE 0 END) AS BIGINT) AS orphan_left,
        |  CAST(SUM(CASE WHEN k0 IS NOT NULL AND lc = 0 THEN rc
        |    ELSE 0 END) AS BIGINT) AS orphan_right,
        |  COUNT(CASE WHEN k0 IS NOT NULL AND rc > 1 THEN 1 END)
        |    AS dup_keys_right,
        |  CAST(SUM(CASE WHEN k0 IS NULL THEN 0
        |    ELSE CAST(lc AS HUGEINT) * rc END) AS BIGINT)
        |    AS joined_rows,
        |  COALESCE(MAX(CASE WHEN k0 IS NOT NULL AND lc > 0
        |    THEN rc END), 0) AS max_fanout
        |FROM j""".stripMargin,

    // identical integer CDF machinery: default RANGE frame steps
    // after ties on both engines; HUGEINT mirrors decimal(38,0)
    "q258_ks_drift" ->
      """WITH u AS (SELECT event_type AS key, value AS v,
        |    CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS r
        |  FROM events
        |  WHERE event_type IS NOT NULL AND value IS NOT NULL
        |    AND NOT isnan(value)),
        |c AS (SELECT key,
        |    SUM(r) OVER (PARTITION BY key ORDER BY v) AS cum_ref,
        |    SUM(1 - r) OVER (PARTITION BY key ORDER BY v) AS cum_cur,
        |    SUM(r) OVER (PARTITION BY key) AS n_ref,
        |    SUM(1 - r) OVER (PARTITION BY key) AS n_cur
        |  FROM u),
        |m AS (SELECT key,
        |    MAX(ABS(CAST(cum_ref AS HUGEINT) * n_cur
        |      - CAST(cum_cur AS HUGEINT) * n_ref)) AS ks_num,
        |    MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur
        |  FROM c GROUP BY key)
        |SELECT key, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(ks_num AS BIGINT) AS ks_num,
        |  ROUND(CASE WHEN n_ref > 0 AND n_cur > 0
        |    THEN CAST(ks_num AS DOUBLE)
        |      / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)) END,
        |    6) AS ks
        |FROM m ORDER BY key""".stripMargin,

    "q167_k_anonymity" ->
      """WITH d AS (SELECT c_custkey, c_nationkey,
        |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band,
        |    c_mktsegment FROM customer),
        |s AS (SELECT c_nationkey, band, COUNT(*) AS n,
        |    COUNT(DISTINCT c_mktsegment) AS dv
        |  FROM d GROUP BY 1, 2)
        |SELECT d.c_custkey, s.n AS eq_class_size,
        |  s.dv AS sensitive_diversity,
        |  s.n >= 5 AS k_anonymous, s.dv >= 3 AS l_diverse
        |FROM d JOIN s USING (c_nationkey, band)
        |ORDER BY 1""".stripMargin,

    "q166_psi_drift" ->
      """WITH r AS (SELECT o_orderpriority AS level, COUNT(*) AS c
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
        |  GROUP BY 1),
        |rt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        |c AS (SELECT o_orderpriority AS level, COUNT(*) AS c
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  GROUP BY 1),
        |ct AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
        |j AS (SELECT COALESCE(r.level, c.level) AS level,
        |    COALESCE(CAST(r.c AS DOUBLE) / (SELECT t FROM rt), 0)
        |      AS p_ref,
        |    COALESCE(CAST(c.c AS DOUBLE) / (SELECT t FROM ct), 0)
        |      AS p_cur
        |  FROM r FULL OUTER JOIN c ON r.level = c.level),
        |d AS (SELECT level, p_ref, p_cur,
        |    (p_cur - p_ref) *
        |      ln(GREATEST(p_cur, 1e-6) / GREATEST(p_ref, 1e-6)) AS term
        |  FROM j),
        |tot AS (SELECT CAST(SUM(CAST(ROUND(term * 1e9, 0) AS BIGINT))
        |    AS BIGINT) AS nano FROM d)
        |SELECT level, ROUND(p_ref, 6) AS p_ref,
        |  ROUND(p_cur, 6) AS p_cur, ROUND(term, 6) AS psi_term,
        |  (SELECT nano FROM tot) AS psi_total_nano
        |FROM d ORDER BY 1""".stripMargin,

    // tie-corrected Mann-Whitney AUC from distinct-value cumulative
    // counts; the doubled numerator is exact BIGINT, division order
    // (2.0 * n_pos * n_neg) mirrors the Spark operand order
    "q170_rank_auc" -> {
      def one(score: String) =
        s"""SELECT '$score' AS feature, n_pos, n_neg,
           |  (SELECT CAST(COUNT(*) AS BIGINT)
           |   FROM d_$score WHERE v IS NULL OR isnan(v)) AS n_excluded,
           |  num2 AS auc_num2,
           |  ROUND(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6)
           |    AS auc
           |FROM a_$score""".stripMargin
      def ctes(score: String) =
        s"""d_$score AS (SELECT CAST($score AS DOUBLE) AS v,
           |    CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS y
           |  FROM customer),
           |g_$score AS (SELECT v, CAST(SUM(y) AS BIGINT) AS np,
           |    CAST(COUNT(*) AS BIGINT) - CAST(SUM(y) AS BIGINT) AS nn
           |  FROM d_$score WHERE v IS NOT NULL AND NOT isnan(v)
           |  GROUP BY 1),
           |c_$score AS (SELECT np, nn,
           |    CAST(COALESCE(SUM(nn) OVER (ORDER BY v
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           |      AS BIGINT) AS cum
           |  FROM g_$score),
           |a_$score AS (SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           |    CAST(SUM(nn) AS BIGINT) AS n_neg,
           |    CAST(SUM(np * (2 * cum + nn)) AS BIGINT) AS num2
           |  FROM c_$score)""".stripMargin
      s"""WITH ${ctes("c_acctbal")},
         |${ctes("c_nationkey")}
         |${one("c_acctbal")}
         |UNION ALL
         |${one("c_nationkey")}
         |ORDER BY feature""".stripMargin
    },

    // WOE/IV with the WoeEncoder's additive regularization; nano
    // total rounds each term to BIGINT nano-units BEFORE summing
    "q171_information_value" ->
      """WITH d AS (SELECT lang AS level,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (SELECT level, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg FROM d GROUP BY 1),
        |t AS (SELECT CAST(CAST(SUM(n_pos) AS BIGINT) AS DOUBLE) AS pt,
        |    CAST(CAST(SUM(n_neg) AS BIGINT) AS DOUBLE) AS nt FROM g),
        |w AS (SELECT level, n_pos, n_neg,
        |    (CAST(n_pos AS DOUBLE) + 0.5) /
        |      ((SELECT pt FROM t) + 1.0) AS dp,
        |    (CAST(n_neg AS DOUBLE) + 0.5) /
        |      ((SELECT nt FROM t) + 1.0) AS dn
        |  FROM g),
        |x AS (SELECT level, n_pos, n_neg, ln(dp / dn) AS woe,
        |    (dp - dn) * ln(dp / dn) AS iv FROM w),
        |tot AS (SELECT CAST(SUM(CAST(ROUND(iv * 1e9, 0) AS BIGINT))
        |    AS BIGINT) AS nano FROM x)
        |SELECT level, n_pos, n_neg, ROUND(woe, 6) AS woe,
        |  ROUND(iv, 6) AS iv_term,
        |  (SELECT nano FROM tot) AS iv_total_nano
        |FROM x ORDER BY 1""".stripMargin,

    // identical complete-pair integer micro moments per cell (HUGEINT
    // mirrors decimal(38,0)); theta/meanx/readout are the same double
    // expressions; missing covariate or undefined theta -> unadjusted
    "q259_cuped_adjust" ->
      """WITH e AS (SELECT event_id, event_type AS k,
        |    CASE WHEN value IS NOT NULL AND NOT isnan(value)
        |      THEN CAST(round(value * 1e6) AS BIGINT) END AS my,
        |    CASE WHEN props IS NOT NULL
        |      THEN CAST(length(props) AS BIGINT) * 1000000 END AS mx
        |  FROM events),
        |p AS (SELECT k, COUNT(*) AS n,
        |    SUM(CAST(mx AS HUGEINT)) AS sx,
        |    SUM(CAST(my AS HUGEINT)) AS sy,
        |    SUM(CAST(mx AS HUGEINT) * mx) AS sxx,
        |    SUM(CAST(mx AS HUGEINT) * my) AS sxy
        |  FROM e WHERE mx IS NOT NULL AND my IS NOT NULL
        |  GROUP BY k),
        |t AS (SELECT k, n,
        |    CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
        |      THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |        / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS meanx
        |  FROM p)
        |SELECT e.event_id,
        |  ROUND(CASE WHEN e.my IS NULL THEN NULL
        |    WHEN e.mx IS NULL OR t.theta IS NULL
        |      THEN CAST(e.my AS DOUBLE) / 1e6
        |    ELSE (CAST(e.my AS DOUBLE) - t.theta *
        |      (CAST(e.mx AS DOUBLE) - t.meanx)) / 1e6 END, 6) AS adj,
        |  ROUND(t.theta, 6) AS theta
        |FROM e LEFT JOIN t ON e.k IS NOT DISTINCT FROM t.k
        |ORDER BY 1""".stripMargin,

    // integer milli-aspect bands and ROW_NUMBER packing recompute
    // every (bucket, seq, batch_id, slot) the two-phase cumsum emits
    "q172_aspect_batches" ->
      """WITH base AS (SELECT image_id, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q172/*.parquet')),
        |b AS (SELECT image_id,
        |    CAST((w * 1000 // h) // 250 AS BIGINT) AS bucket
        |  FROM base),
        |r AS (SELECT image_id, bucket,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket
        |      ORDER BY image_id) - 1 AS BIGINT) AS seq
        |  FROM b)
        |SELECT image_id, bucket, seq,
        |  CAST(seq // 8 AS BIGINT) AS batch_id,
        |  CAST(seq % 8 AS BIGINT) AS slot
        |FROM r ORDER BY 1""".stripMargin,

    // exact counts per column; distinct on the RAW values (the
    // string cast is injective, so cardinality is unchanged)
    "q179_column_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  ROUND(CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |    AS DOUBLE) / COUNT(*), 6) AS null_rate
           |FROM customer""".stripMargin
      Seq("c_mktsegment", "c_nationkey", "c_acctbal", "c_name")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY 1")
    },

    // same injection, bitmask arithmetic and zero policy
    "q198_feature_assembly" ->
      """WITH d AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_orderkey % 11 = 0 THEN NULL
        |    ELSE l_quantity END AS q,
        |  l_extendedprice AS e,
        |  CASE WHEN l_linenumber % 3 = 0 THEN NULL
        |    ELSE l_discount END AS disc
        |FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(CASE WHEN q IS NULL THEN 1 ELSE 0 END
        |    + CASE WHEN e IS NULL THEN 2 ELSE 0 END
        |    + CASE WHEN disc IS NULL THEN 4 ELSE 0 END AS BIGINT)
        |    AS mask,
        |  ROUND(COALESCE(q, 0.0), 6) AS f0,
        |  ROUND(COALESCE(e, 0.0), 6) AS f1,
        |  ROUND(COALESCE(disc, 0.0), 6) AS f2
        |FROM d ORDER BY 1, 2""".stripMargin,

    // generated from the SAME BenfordShares constants the operator
    // compiles in (Scala Double.toString round-trips exactly), so no
    // engine libm log10 enters the chi2; identical term operand order
    "q194_benford_audit" -> {
      val es = graft.operators.Profile.BenfordShares
      def digit(c: String) =
        s"""CASE WHEN $c IS NULL OR $c = 0 THEN NULL
           |    ELSE CAST(substring(regexp_replace(
           |      CAST($c AS VARCHAR), '^-', ''), 1, 1)
           |      AS INT) END""".stripMargin
      def term(k: Int) =
        s"""(CAST(c$k AS DOUBLE) - CAST(n AS DOUBLE) * ${es(k - 1)})
           |  * (CAST(c$k AS DOUBLE) - CAST(n AS DOUBLE) * ${es(k - 1)})
           |  / (CAST(n AS DOUBLE) * ${es(k - 1)})""".stripMargin
      val counters = (1 to 9).map(k =>
        s"CAST(SUM(CASE WHEN d = $k THEN 1 ELSE 0 END) AS BIGINT) " +
          s"AS c$k").mkString(",\n  ")
      s"""WITH src AS (SELECT l_orderkey, l_partkey,
         |  CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_int
         |  FROM lineitem),
         |m AS (
         |  SELECT 'l_orderkey' AS "column", ${digit("l_orderkey")}
         |    AS d FROM src
         |  UNION ALL
         |  SELECT 'l_partkey', ${digit("l_partkey")} FROM src
         |  UNION ALL
         |  SELECT 'price_int', ${digit("price_int")} FROM src),
         |g AS (SELECT "column", CAST(COUNT(d) AS BIGINT) AS n,
         |  $counters
         |  FROM m GROUP BY 1)
         |SELECT "column", n, c1, c2, c3, c4, c5, c6, c7, c8, c9,
         |  ROUND(CASE WHEN n = 0 THEN NULL ELSE
         |    ${(1 to 9).map(term).mkString("\n  + ")} END, 6) AS chi2
         |FROM g ORDER BY 1""".stripMargin
    },

    // same per-key max + global max, exact integer-us staleness;
    // multi-key (event_type, shard), NULLS FIRST to match Spark's
    // ascending default
    "q204_freshness_report" ->
      """WITH g AS (SELECT MAX(epoch_us(ts)) AS gmax FROM events)
        |SELECT event_type, user_id % 3 AS shard,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MAX(ts) AS last_ts,
        |  g.gmax - MAX(epoch_us(ts)) AS staleness_us,
        |  g.gmax - MAX(epoch_us(ts)) > 86400000000 AS stale
        |FROM events, g GROUP BY event_type, user_id % 3, g.gmax
        |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin,

    // same melt/count/threshold shape; salt factor is exact integer
    // ceil division, so no float enters the reported plan
    "q191_skew_report" ->
      """WITH m AS (
        |  SELECT 'event_type' AS "column",
        |    CAST(event_type AS VARCHAR) AS key FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events),
        |c AS (SELECT "column", key, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM m GROUP BY 1, 2),
        |t AS (SELECT "column", SUM(cnt) AS total FROM c GROUP BY 1)
        |SELECT c."column", c.key, c.key IS NULL AS key_is_null, c.cnt,
        |  ROUND(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS share,
        |  CAST((cnt * 32 + total - 1) // total AS BIGINT)
        |    AS salt_factor
        |FROM c JOIN t USING ("column")
        |WHERE CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) > 0.005
        |ORDER BY 1, 2 NULLS FIRST""".stripMargin,

    // the q179 exact-count profile per parity snapshot, then the
    // same UNROUNDED delta/ratio comparisons feeding the flag
    "q186_profile_drift" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", r.n AS n_ref, u.n AS n_cur,
           |  CAST(r.nn AS DOUBLE) / r.n AS nr_ref,
           |  CAST(u.nn AS DOUBLE) / u.n AS nr_cur,
           |  r.nd AS nd_ref, u.nd AS nd_cur
           |FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nn,
           |    CAST(COUNT(DISTINCT $c) AS BIGINT) AS nd
           |  FROM events WHERE event_id % 2 = 0) r,
           |  (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS nn,
           |    CAST(COUNT(DISTINCT $c) AS BIGINT) AS nd
           |  FROM events WHERE event_id % 2 = 1) u""".stripMargin
      val body = Seq("event_type", "user_id", "value", "props")
        .map(one).mkString("(", "\nUNION ALL\n", ")")
      s"""SELECT "column", n_ref, n_cur,
         |  ROUND(nr_ref, 6) AS null_rate_ref,
         |  ROUND(nr_cur, 6) AS null_rate_cur,
         |  ROUND(nr_cur - nr_ref, 6) AS null_rate_delta,
         |  nd_ref AS n_distinct_ref, nd_cur AS n_distinct_cur,
         |  ROUND(CASE WHEN nd_ref > 0
         |    THEN CAST(nd_cur AS DOUBLE) / CAST(nd_ref AS DOUBLE)
         |    END, 6) AS distinct_ratio,
         |  (COALESCE(ABS(nr_cur - nr_ref) > 0.05, TRUE) OR
         |   COALESCE(CASE WHEN nd_ref > 0
         |       THEN CAST(nd_cur AS DOUBLE) / CAST(nd_ref AS DOUBLE)
         |       END < 0.5 OR
         |     CASE WHEN nd_ref > 0
         |       THEN CAST(nd_cur AS DOUBLE) / CAST(nd_ref AS DOUBLE)
         |       END > 2.0, TRUE)) AS drifted
         |FROM $body ORDER BY 1""".stripMargin
    },

    // same bucket/target arithmetic as q173, then the letterbox
    // geometry: scale = LEAST of the two axis ratios, floor + pads
    "q180_resize_plan" ->
      """WITH base AS (SELECT image_id, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q180/*.parquet')),
        |b AS (SELECT image_id, w, h,
        |    CAST((w * 1000 // h) // 250 AS BIGINT) AS bucket
        |  FROM base),
        |r0 AS (SELECT bucket,
        |    CAST(bucket * 250 + 125 AS BIGINT) AS aspect_milli
        |  FROM b GROUP BY 1),
        |x AS (SELECT *, sqrt(1048576.0 * 1000.0 / aspect_milli)
        |    AS h_raw FROM r0),
        |y AS (SELECT *, h_raw * aspect_milli / 1000.0 AS w_raw FROM x),
        |r AS (SELECT bucket,
        |    GREATEST(64, CAST(FLOOR(w_raw / 64) * 64 AS BIGINT))
        |      AS target_w,
        |    GREATEST(64, CAST(FLOOR(h_raw / 64) * 64 AS BIGINT))
        |      AS target_h
        |  FROM y),
        |j AS (SELECT b.image_id, b.w, b.h, b.bucket, r.target_w,
        |    r.target_h FROM b JOIN r USING (bucket)),
        |s AS (SELECT *, LEAST(CAST(target_w AS DOUBLE) / w,
        |    CAST(target_h AS DOUBLE) / h) AS sc FROM j),
        |n AS (SELECT *,
        |    GREATEST(1, CAST(FLOOR(w * sc) AS BIGINT)) AS new_w,
        |    GREATEST(1, CAST(FLOOR(h * sc) AS BIGINT)) AS new_h
        |  FROM s)
        |SELECT image_id, bucket, target_w, target_h, new_w, new_h,
        |  (target_w - new_w) // 2 AS pad_x,
        |  (target_h - new_h) // 2 AS pad_y
        |FROM n ORDER BY 1""".stripMargin,

    // doubled average ranks (2*cum_below + cnt + 1) are exact
    // integers, so every moment matches bit-for-bit; rho mirrors the
    // Spark operand order
    "q178_spearman" ->
      """WITH d AS (SELECT CAST(c_acctbal AS DOUBLE) AS a,
        |    CAST(c_nationkey AS DOUBLE) AS b FROM customer
        |  WHERE c_acctbal IS NOT NULL
        |    AND NOT isnan(CAST(c_acctbal AS DOUBLE))
        |    AND c_nationkey IS NOT NULL),
        |e AS (SELECT CAST(COUNT(*) AS BIGINT) AS x FROM customer
        |  WHERE c_acctbal IS NULL
        |    OR isnan(CAST(c_acctbal AS DOUBLE))
        |    OR c_nationkey IS NULL),
        |ga AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1),
        |ra AS (SELECT a, 2 * CAST(COALESCE(SUM(c) OVER (ORDER BY a
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) + c + 1 AS u FROM ga),
        |gb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1),
        |rb AS (SELECT b, 2 * CAST(COALESCE(SUM(c) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) + c + 1 AS v FROM gb),
        |j AS (SELECT ra.u AS u, rb.v AS v FROM d
        |  JOIN ra ON d.a = ra.a JOIN rb ON d.b = rb.b),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(u) AS BIGINT) AS sum_u,
        |    CAST(SUM(v) AS BIGINT) AS sum_v,
        |    CAST(SUM(u * v) AS BIGINT) AS sum_uv,
        |    CAST(SUM(u * u) AS BIGINT) AS sum_u2,
        |    CAST(SUM(v * v) AS BIGINT) AS sum_v2 FROM j)
        |SELECT n, (SELECT x FROM e) AS n_excluded, sum_u, sum_v,
        |  sum_uv, sum_u2, sum_v2,
        |  CASE WHEN CAST(n AS DOUBLE) * sum_u2 -
        |        CAST(sum_u AS DOUBLE) * sum_u > 0
        |      AND CAST(n AS DOUBLE) * sum_v2 -
        |        CAST(sum_v AS DOUBLE) * sum_v > 0
        |    THEN ROUND((CAST(n AS DOUBLE) * sum_uv -
        |        CAST(sum_u AS DOUBLE) * sum_v) /
        |      (sqrt(CAST(n AS DOUBLE) * sum_u2 -
        |        CAST(sum_u AS DOUBLE) * sum_u) *
        |       sqrt(CAST(n AS DOUBLE) * sum_v2 -
        |        CAST(sum_v AS DOUBLE) * sum_v)), 6)
        |    ELSE NULL END AS rho
        |FROM s""".stripMargin,

    // expected counts, chi2 and MI cells recomputed with the exact
    // Spark operand order; nano totals round per level THEN sum
    "q176_chi2_mi_screen" ->
      """WITH d AS (SELECT o_orderpriority AS level,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |g AS (SELECT level, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
        |    CAST(SUM(n_neg) AS BIGINT) AS nn FROM g),
        |x AS (SELECT level, n_pos, n_neg,
        |    CAST(n_pos + n_neg AS DOUBLE) AS nl,
        |    CAST((SELECT np + nn FROM t) AS DOUBLE) AS n,
        |    CAST((SELECT np FROM t) AS DOUBLE) AS cp,
        |    CAST((SELECT nn FROM t) AS DOUBLE) AS cn
        |  FROM g),
        |c AS (SELECT level, n_pos, n_neg,
        |    CASE WHEN nl * cp / n > 0 THEN
        |      (CAST(n_pos AS DOUBLE) - nl * cp / n) *
        |      (CAST(n_pos AS DOUBLE) - nl * cp / n) / (nl * cp / n)
        |      ELSE 0 END
        |  + CASE WHEN nl * cn / n > 0 THEN
        |      (CAST(n_neg AS DOUBLE) - nl * cn / n) *
        |      (CAST(n_neg AS DOUBLE) - nl * cn / n) / (nl * cn / n)
        |      ELSE 0 END AS chi2_term,
        |    CASE WHEN n_pos > 0 THEN (CAST(n_pos AS DOUBLE) / n) *
        |      ln((CAST(n_pos AS DOUBLE) / n) / ((nl / n) * (cp / n)))
        |      ELSE 0 END
        |  + CASE WHEN n_neg > 0 THEN (CAST(n_neg AS DOUBLE) / n) *
        |      ln((CAST(n_neg AS DOUBLE) / n) / ((nl / n) * (cn / n)))
        |      ELSE 0 END AS mi_term
        |  FROM x),
        |tot AS (SELECT
        |    CAST(SUM(CAST(ROUND(chi2_term * 1e9, 0) AS BIGINT))
        |      AS BIGINT) AS ctn,
        |    CAST(SUM(CAST(ROUND(mi_term * 1e9, 0) AS BIGINT))
        |      AS BIGINT) AS mtn FROM c)
        |SELECT level, n_pos, n_neg, ROUND(chi2_term, 6) AS chi2_term,
        |  ROUND(mi_term, 6) AS mi_term,
        |  (SELECT ctn FROM tot) AS chi2_total_nano,
        |  (SELECT mtn FROM tot) AS mi_total_nano
        |FROM c ORDER BY 1""".stripMargin,

    // sqrt is IEEE-correctly-rounded and the operand order is
    // mirrored, so the raw doubles (and their floors) match bit-exact
    "q173_bucket_resolutions" ->
      """WITH base AS (SELECT w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q173/*.parquet')),
        |b AS (SELECT CAST((w * 1000 // h) // 250 AS BIGINT) AS bucket
        |  FROM base),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_images
        |  FROM b GROUP BY 1),
        |r AS (SELECT bucket, n_images,
        |    CAST(bucket * 250 + 125 AS BIGINT) AS aspect_milli FROM g),
        |x AS (SELECT *, sqrt(1048576.0 * 1000.0 / aspect_milli)
        |    AS h_raw FROM r),
        |y AS (SELECT *, h_raw * aspect_milli / 1000.0 AS w_raw FROM x)
        |SELECT bucket, n_images, aspect_milli,
        |  GREATEST(64, CAST(FLOOR(w_raw / 64) * 64 AS BIGINT))
        |    AS target_w,
        |  GREATEST(64, CAST(FLOOR(h_raw / 64) * 64 AS BIGINT))
        |    AS target_h
        |FROM y ORDER BY 1""".stripMargin,

    // micro/nano integer units keep every bin mass and the ECE total
    // independent of float summation order
    "q174_calibration_table" ->
      """WITH d AS (SELECT
        |    CAST(c_custkey % 101 AS DOUBLE) / CAST(100 AS DOUBLE) AS s,
        |    CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM customer),
        |g AS (SELECT LEAST(CAST(FLOOR(s * 10) AS BIGINT), 9) AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(CAST(ROUND(s * 1e6, 0) AS BIGINT)) AS BIGINT)
        |      AS sum_score_micro
        |  FROM d GROUP BY 1),
        |m AS (SELECT bin, n, n_pos, sum_score_micro,
        |    CAST(sum_score_micro AS DOUBLE) / 1e6 / n AS mean_pred,
        |    CAST(n_pos AS DOUBLE) / n AS frac_pos FROM g),
        |e AS (SELECT CAST(SUM(n *
        |    CAST(ROUND(ABS(frac_pos - mean_pred) * 1e9, 0) AS BIGINT))
        |    AS BIGINT) AS ece FROM m)
        |SELECT bin, n, n_pos, sum_score_micro,
        |  ROUND(mean_pred, 6) AS mean_pred,
        |  ROUND(frac_pos, 6) AS frac_pos,
        |  (SELECT ece FROM e) AS ece_nano
        |FROM m ORDER BY 1""".stripMargin,

    "q164_loo_target_encoding" ->
      """WITH d AS (SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL
        |      ELSE FLOOR(c_acctbal) END AS y
        |  FROM customer),
        |s AS (SELECT c_mktsegment AS k, SUM(y) AS ss,
        |    CAST(COUNT(y) AS BIGINT) AS cc
        |  FROM d GROUP BY 1),
        |g AS (SELECT SUM(y) * 1.0 / COUNT(y) AS m FROM d)
        |SELECT d.c_custkey, d.c_mktsegment,
        |  ROUND((COALESCE(s.ss, 0) -
        |      CASE WHEN d.y IS NOT NULL THEN d.y ELSE 0 END
        |      + 5.0 * g.m) /
        |    (COALESCE(s.cc, 0) -
        |      CASE WHEN d.y IS NOT NULL THEN 1 ELSE 0 END
        |      + 5.0), 6) AS loo_enc
        |FROM d
        |LEFT JOIN s ON d.c_mktsegment = s.k
        |CROSS JOIN g
        |ORDER BY 1""".stripMargin,

    "q80_group_zscore" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        |  ROUND((l_quantity -
        |      AVG(l_quantity) OVER (PARTITION BY l_returnflag)) /
        |    (CASE WHEN COALESCE(STDDEV_POP(l_quantity)
        |        OVER (PARTITION BY l_returnflag), 0) = 0 THEN 1
        |      ELSE STDDEV_POP(l_quantity)
        |        OVER (PARTITION BY l_returnflag) END), 6) AS q_z,
        |  ROUND((l_extendedprice -
        |      AVG(l_extendedprice) OVER (PARTITION BY l_returnflag)) /
        |    (CASE WHEN COALESCE(STDDEV_POP(l_extendedprice)
        |        OVER (PARTITION BY l_returnflag), 0) = 0 THEN 1
        |      ELSE STDDEV_POP(l_extendedprice)
        |        OVER (PARTITION BY l_returnflag) END), 6) AS price_z
        |FROM lineitem ORDER BY 1, 2""".stripMargin,

    // the same closure rolled to clusters: comp = min label =
    // canonical id
    "q383_resolved_entities" ->
      """WITH RECURSIVE e AS (SELECT a.c_custkey AS ia,
        |    b.c_custkey AS ib
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
        |r AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)
        |SELECT comp AS canonical_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_aliases
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // the exhaustive edge set closed by the q76 recursive CTE
    "q382_fuzzy_clusters" ->
      """WITH RECURSIVE e AS (SELECT a.c_custkey AS ia,
        |    b.c_custkey AS ib
        |  FROM customer a JOIN customer b
        |    ON a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id)
        |SELECT id, MIN(comp) AS component FROM cc
        |GROUP BY id ORDER BY id""".stripMargin,

    // exhaustive truth: every pair within Levenshtein 1, no
    // blocking — any candidate the neighborhood misses fails this
    "q342_fuzzy_pairs" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY 1, 2""".stripMargin,

    // four re-keyed chains (gap moments, type mix, bucket entropy,
    // bigram conditional entropy) joined on the supplier
    "q388_supplier_profile" ->
      """WITH e AS (SELECT l_suppkey, l_orderkey, l_linenumber,
        |    l_returnflag, epoch_us(l_shipdate) AS t FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL),
        |g AS (SELECT l_suppkey,
        |    t - LAG(t) OVER (PARTITION BY l_suppkey ORDER BY t)
        |      AS dt
        |  FROM e),
        |ga AS (SELECT l_suppkey,
        |    CAST(COUNT(dt) AS BIGINT) AS n_gaps,
        |    SUM(CAST(dt AS HUGEINT)) AS sdt,
        |    SUM(CAST(dt AS HUGEINT) * dt) AS sdd
        |  FROM g GROUP BY 1),
        |gb AS (SELECT l_suppkey, n_gaps,
        |    CAST(sdt AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |    sqrt(CAST(CAST(n_gaps AS HUGEINT) * sdd - sdt * sdt
        |        AS DOUBLE)) / CAST(n_gaps AS DOUBLE) AS sig
        |  FROM ga WHERE n_gaps >= 1),
        |burst AS (SELECT l_suppkey, n_gaps,
        |    CASE WHEN sig + mu > 0
        |      THEN ROUND((sig - mu) / (sig + mu), 6) END
        |      AS burstiness
        |  FROM gb),
        |tmc AS (SELECT l_suppkey, l_returnflag AS ty,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_returnflag IS NOT NULL
        |  GROUP BY 1, 2),
        |tmix AS (SELECT l_suppkey,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    ROUND(ln(CAST(SUM(n) AS DOUBLE))
        |      - SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)))
        |        / CAST(SUM(n) AS DOUBLE), 6) AS type_entropy
        |  FROM tmc GROUP BY 1),
        |fb AS (SELECT l_suppkey, CASE WHEN dt <= 0 THEN -1
        |    ELSE CAST(floor(log2(CAST(dt AS DOUBLE))) AS BIGINT)
        |    END AS b
        |  FROM g WHERE dt IS NOT NULL),
        |pb AS (SELECT l_suppkey, b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM fb GROUP BY 1, 2),
        |ce AS (SELECT l_suppkey,
        |    CAST(SUM(n) AS BIGINT) AS ng,
        |    CAST(COUNT(*) AS BIGINT) AS nb,
        |    SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS nl
        |  FROM pb GROUP BY 1),
        |cad AS (SELECT l_suppkey,
        |    CASE WHEN nb > 1 THEN
        |      ROUND((ln(CAST(ng AS DOUBLE))
        |        - nl / CAST(ng AS DOUBLE))
        |        / ln(CAST(nb AS DOUBLE)), 6) END
        |      AS cadence_norm_entropy
        |  FROM ce),
        |bi AS (SELECT l_suppkey, l_returnflag AS cur,
        |    LAG(l_returnflag) OVER (PARTITION BY l_suppkey
        |      ORDER BY t, l_orderkey, l_linenumber) AS prev
        |  FROM e WHERE l_returnflag IS NOT NULL),
        |pp AS (SELECT l_suppkey, prev, cur,
        |    CAST(COUNT(*) AS BIGINT) AS npq
        |  FROM bi WHERE prev IS NOT NULL GROUP BY 1, 2, 3),
        |pr AS (SELECT l_suppkey,
        |    CAST(SUM(npq) AS BIGINT) AS n_bigrams,
        |    CAST(COUNT(DISTINCT cur) AS BIGINT) AS n_cur_types,
        |    SUM(CAST(npq AS DOUBLE) * ln(CAST(npq AS DOUBLE)))
        |      AS nlpq
        |  FROM pp GROUP BY 1),
        |pv AS (SELECT l_suppkey,
        |    SUM(CAST(np AS DOUBLE) * ln(CAST(np AS DOUBLE))) AS nlp
        |  FROM (SELECT l_suppkey, prev,
        |      CAST(SUM(npq) AS BIGINT) AS np
        |    FROM pp GROUP BY 1, 2) GROUP BY 1),
        |pred AS (SELECT pr.l_suppkey,
        |    CASE WHEN n_cur_types > 1 THEN
        |      ROUND((nlp - nlpq) / CAST(n_bigrams AS DOUBLE)
        |        / ln(CAST(n_cur_types AS DOUBLE)), 6) END
        |      AS predictability_norm
        |  FROM pr JOIN pv ON pr.l_suppkey = pv.l_suppkey)
        |SELECT b.l_suppkey, b.n_gaps, b.burstiness,
        |  t.n_types, t.type_entropy, c.cadence_norm_entropy,
        |  p.predictability_norm
        |FROM burst b
        |JOIN tmix t ON b.l_suppkey = t.l_suppkey
        |JOIN cad c ON b.l_suppkey = c.l_suppkey
        |JOIN pred p ON b.l_suppkey = p.l_suppkey
        |ORDER BY 1""".stripMargin,

    // q319's gap-moment SQL re-keyed onto lineitem
    "q387_supplier_burstiness" ->
      """WITH e AS (SELECT l_suppkey, epoch_us(l_shipdate) AS t
        |  FROM lineitem
        |  WHERE l_suppkey IS NOT NULL AND l_shipdate IS NOT NULL),
        |g AS (SELECT l_suppkey,
        |    t - LAG(t) OVER (PARTITION BY l_suppkey ORDER BY t)
        |      AS dt
        |  FROM e),
        |a AS (SELECT l_suppkey,
        |    CAST(COUNT(dt) AS BIGINT) AS n_gaps,
        |    SUM(CAST(dt AS HUGEINT)) AS sdt,
        |    SUM(CAST(dt AS HUGEINT) * dt) AS sdd
        |  FROM g GROUP BY 1),
        |d AS (SELECT l_suppkey, n_gaps,
        |    CAST(sdt AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
        |    sqrt(CAST(CAST(n_gaps AS HUGEINT) * sdd - sdt * sdt
        |        AS DOUBLE)) / CAST(n_gaps AS DOUBLE) AS sig
        |  FROM a)
        |SELECT l_suppkey, n_gaps,
        |  CASE WHEN n_gaps >= 1
        |    THEN ROUND(mu / 1e6, 6) END AS mean_gap_s,
        |  CASE WHEN n_gaps >= 1
        |    THEN ROUND(sig / 1e6, 6) END AS std_gap_s,
        |  CASE WHEN n_gaps >= 1 AND mu > 0
        |    THEN ROUND(sig / mu, 6) END AS cv_gap,
        |  CASE WHEN n_gaps >= 1 AND sig + mu > 0
        |    THEN ROUND((sig - mu) / (sig + mu), 6) END
        |    AS burstiness
        |FROM d ORDER BY 1""".stripMargin,

    // q176's per-level chi2/MI SQL re-keyed onto customer
    "q392_segment_screen" ->
      """WITH d AS (SELECT c_mktsegment AS level,
        |    CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END AS y
        |  FROM customer),
        |g AS (SELECT level, CAST(SUM(y) AS BIGINT) AS n_pos,
        |    CAST(SUM(1 - y) AS BIGINT) AS n_neg FROM d GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
        |    CAST(SUM(n_neg) AS BIGINT) AS nn FROM g),
        |x AS (SELECT level, n_pos, n_neg,
        |    CAST(n_pos + n_neg AS DOUBLE) AS nl,
        |    CAST((SELECT np + nn FROM t) AS DOUBLE) AS n,
        |    CAST((SELECT np FROM t) AS DOUBLE) AS cp,
        |    CAST((SELECT nn FROM t) AS DOUBLE) AS cn
        |  FROM g),
        |c AS (SELECT level, n_pos, n_neg,
        |    CASE WHEN nl * cp / n > 0 THEN
        |      (CAST(n_pos AS DOUBLE) - nl * cp / n) *
        |      (CAST(n_pos AS DOUBLE) - nl * cp / n) / (nl * cp / n)
        |      ELSE 0 END
        |  + CASE WHEN nl * cn / n > 0 THEN
        |      (CAST(n_neg AS DOUBLE) - nl * cn / n) *
        |      (CAST(n_neg AS DOUBLE) - nl * cn / n) / (nl * cn / n)
        |      ELSE 0 END AS chi2_term,
        |    CASE WHEN n_pos > 0 THEN (CAST(n_pos AS DOUBLE) / n) *
        |      ln((CAST(n_pos AS DOUBLE) / n) / ((nl / n) * (cp / n)))
        |      ELSE 0 END
        |  + CASE WHEN n_neg > 0 THEN (CAST(n_neg AS DOUBLE) / n) *
        |      ln((CAST(n_neg AS DOUBLE) / n) / ((nl / n) * (cn / n)))
        |      ELSE 0 END AS mi_term
        |  FROM x),
        |tot AS (SELECT
        |    CAST(SUM(CAST(ROUND(chi2_term * 1e9, 0) AS BIGINT))
        |      AS BIGINT) AS ctn,
        |    CAST(SUM(CAST(ROUND(mi_term * 1e9, 0) AS BIGINT))
        |      AS BIGINT) AS mtn FROM c)
        |SELECT level, n_pos, n_neg,
        |  ROUND(chi2_term, 6) AS chi2_term,
        |  ROUND(mi_term, 6) AS mi_term,
        |  (SELECT ctn FROM tot) AS chi2_total_nano,
        |  (SELECT mtn FROM tot) AS mi_total_nano
        |FROM c ORDER BY 1""".stripMargin,

    // identical conditional counts on the customer shape
    "q391_segment_pivot" ->
      """SELECT c_nationkey,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1
        |    END) AS BIGINT) AS n_automobile,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1
        |    END) AS BIGINT) AS n_building,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1
        |    END) AS BIGINT) AS n_furniture,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1
        |    END) AS BIGINT) AS n_household,
        |  CAST(COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1
        |    END) AS BIGINT) AS n_machinery,
        |  CAST(COUNT(CASE WHEN c_mktsegment IS NOT NULL
        |    AND c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING',
        |      'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 1 END)
        |    AS BIGINT) AS n_other,
        |  CAST(COUNT(c_mktsegment) AS BIGINT) AS n_total
        |FROM customer WHERE c_nationkey IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q258's cross-multiplied CDF SQL re-keyed onto documents
    "q390_length_drift" ->
      """WITH u AS (SELECT lang AS key,
        |    CAST(n_chars AS DOUBLE) AS v,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS r
        |  FROM documents
        |  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
        |    AND NOT isnan(CAST(n_chars AS DOUBLE))),
        |c AS (SELECT key,
        |    SUM(r) OVER (PARTITION BY key ORDER BY v) AS cum_ref,
        |    SUM(1 - r) OVER (PARTITION BY key ORDER BY v)
        |      AS cum_cur,
        |    SUM(r) OVER (PARTITION BY key) AS n_ref,
        |    SUM(1 - r) OVER (PARTITION BY key) AS n_cur
        |  FROM u),
        |m AS (SELECT key,
        |    MAX(ABS(CAST(cum_ref AS HUGEINT) * n_cur
        |      - CAST(cum_cur AS HUGEINT) * n_ref)) AS ks_num,
        |    MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur
        |  FROM c GROUP BY key)
        |SELECT key, CAST(n_ref AS BIGINT) AS n_ref,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  CAST(ks_num AS BIGINT) AS ks_num,
        |  ROUND(CASE WHEN n_ref > 0 AND n_cur > 0
        |    THEN CAST(ks_num AS DOUBLE)
        |      / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))
        |    END, 6) AS ks
        |FROM m ORDER BY key""".stripMargin,

    // q332's lag + strictly-prior window SQL on the lineitem sort
    "q386_supplier_gap_surprise" ->
      """WITH e AS (SELECT l_orderkey, l_linenumber, l_suppkey,
        |    epoch_us(l_shipdate) AS t FROM lineitem),
        |g AS (SELECT l_orderkey, l_linenumber, l_suppkey, t,
        |    t - LAG(t) OVER (PARTITION BY l_suppkey
        |      ORDER BY t, l_orderkey, l_linenumber) AS gap_us
        |  FROM e),
        |x AS (SELECT l_orderkey, l_linenumber, gap_us,
        |    COUNT(gap_us) OVER w2 AS np,
        |    SUM(CAST(gap_us AS HUGEINT)) OVER w2 AS s
        |  FROM g WINDOW w2 AS (PARTITION BY l_suppkey
        |    ORDER BY t, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT l_orderkey, l_linenumber, gap_us,
        |  CAST(np AS BIGINT) AS n_prior_gaps,
        |  CASE WHEN np > 0 THEN
        |    CAST(s AS DOUBLE) / CAST(np AS DOUBLE) END / 1e6
        |    AS mean_prior_gap_s,
        |  CASE WHEN np > 0
        |      AND CAST(s AS DOUBLE) / CAST(np AS DOUBLE) > 0 THEN
        |    CAST(gap_us AS DOUBLE)
        |      / (CAST(s AS DOUBLE) / CAST(np AS DOUBLE)) END
        |    AS gap_surprise
        |FROM x ORDER BY 1, 2""".stripMargin,

    // q305's rank-form Gini SQL re-keyed onto the part table
    "q385_brand_price_gini" ->
      """WITH e AS (SELECT p_brand,
        |    CASE WHEN p_retailprice IS NOT NULL
        |      THEN CAST(round(p_retailprice * 1e6) AS BIGINT)
        |    END AS m
        |  FROM part WHERE p_brand IS NOT NULL),
        |o AS (SELECT p_brand, m FROM e WHERE m IS NOT NULL),
        |r AS (SELECT p_brand, m,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand
        |      ORDER BY m ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY p_brand) AS n
        |  FROM o),
        |a AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_obs,
        |    SUM(CAST(m AS HUGEINT)) AS s,
        |    SUM(CAST(rn AS HUGEINT) * m) AS si,
        |    SUM(CASE WHEN rn > n - (n + 9) // 10
        |      THEN CAST(m AS HUGEINT) END) AS stop,
        |    MIN(m) AS mn
        |  FROM r GROUP BY 1)
        |SELECT p_brand, n_obs,
        |  CASE WHEN s > 0 AND mn >= 0 THEN
        |    ROUND(CAST(2 * si - (CAST(n_obs AS HUGEINT) + 1) * s
        |        AS DOUBLE)
        |      / CAST(CAST(n_obs AS HUGEINT) * s AS DOUBLE), 6) END
        |    AS gini,
        |  CASE WHEN s > 0 AND mn >= 0 THEN
        |    ROUND(CAST(stop AS DOUBLE) / CAST(s AS DOUBLE), 6) END
        |    AS top_decile_share
        |FROM a ORDER BY 1""".stripMargin,

    // q290's entropy/rank SQL re-keyed onto the part table
    "q384_brand_type_mix" ->
      """WITH t AS (SELECT p_brand, p_type AS ty FROM part
        |  WHERE p_brand IS NOT NULL AND p_type IS NOT NULL),
        |pt AS (SELECT p_brand, ty, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t GROUP BY 1, 2),
        |ro AS (SELECT p_brand, CAST(SUM(n) AS BIGINT) AS n_parts,
        |    CAST(COUNT(*) AS BIGINT) AS n_types,
        |    SUM(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))) AS nl
        |  FROM pt GROUP BY 1),
        |tp AS (SELECT p_brand, ty, n FROM (SELECT p_brand, ty, n,
        |    ROW_NUMBER() OVER (PARTITION BY p_brand
        |      ORDER BY n DESC, ty) AS rk FROM pt)
        |  WHERE rk = 1)
        |SELECT ro.p_brand, n_parts, n_types,
        |  ROUND(ln(CAST(n_parts AS DOUBLE))
        |    - nl / CAST(n_parts AS DOUBLE), 6) AS type_entropy,
        |  tp.ty AS top_type,
        |  ROUND(CAST(tp.n AS DOUBLE) / CAST(n_parts AS DOUBLE), 6)
        |    AS top_share
        |FROM ro JOIN tp ON ro.p_brand = tp.p_brand
        |ORDER BY 1""".stripMargin,

    // the q353 construction + signature, group sizes joined back,
    // per-source exact share
    "q381_template_rate" ->
      """WITH t AS (SELECT doc_id, source, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, source,
        |    array_to_string(list_reverse(string_split(text, ' ')),
        |      ' ')
        |  FROM documents WHERE doc_id % 10 = 0),
        |p AS (SELECT doc_id, source,
        |    md5(array_to_string(list_sort(string_split(text, ' ')),
        |      ' ')) AS sig
        |  FROM t WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND source IS NOT NULL),
        |g AS (SELECT sig, CAST(COUNT(*) AS BIGINT) AS gn
        |  FROM p GROUP BY 1)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(CASE WHEN gn >= 2 THEN 1 END) AS BIGINT)
        |    AS n_templated,
        |  ROUND(CAST(COUNT(CASE WHEN gn >= 2 THEN 1 END)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS templated_share
        |FROM p JOIN g ON p.sig = g.sig
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical conditional counts on the corpus shape
    "q380_lang_pivot" ->
      """SELECT source,
        |  CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT)
        |    AS n_en,
        |  CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT)
        |    AS n_es,
        |  CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT)
        |    AS n_de,
        |  CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT)
        |    AS n_fr,
        |  CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT)
        |    AS n_zh,
        |  CAST(COUNT(CASE WHEN lang IS NOT NULL AND lang NOT IN
        |    ('en', 'es', 'de', 'fr', 'zh') THEN 1 END) AS BIGINT)
        |    AS n_other,
        |  CAST(COUNT(lang) AS BIGINT) AS n_total
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical sorted-multiset signature (list_sort + md5), exact
    // counts, the same tie-broken LIMIT
    "q353_template_groups" ->
      """WITH t AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(list_reverse(string_split(text, ' ')),
        |      ' ')
        |  FROM documents WHERE doc_id % 10 = 0),
        |s AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(string_split(text, ' ')),
        |      ' ')) AS template_sig
        |  FROM t
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |g AS (SELECT template_sig,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    MIN(doc_id) AS min_doc_id
        |  FROM s GROUP BY 1)
        |SELECT template_sig, n_docs, min_doc_id FROM g
        |WHERE n_docs >= 2
        |ORDER BY n_docs DESC, template_sig LIMIT 20""".stripMargin,

    // identical distinct token sets, the same DF window, pair join
    // and the ln chain with N as the same value
    "q352_token_pmi" ->
      """WITH pt AS (SELECT DISTINCT doc_id, tok
        |  FROM (SELECT doc_id,
        |      unnest(string_split(text, ' ')) AS tok
        |    FROM documents
        |    WHERE doc_id IS NOT NULL AND text IS NOT NULL)),
        |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM pt),
        |dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM pt GROUP BY 1),
        |kept AS (SELECT pt.doc_id, pt.tok, c
        |  FROM pt JOIN dfc USING (tok) WHERE c >= 20 AND c <= 400),
        |pr AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_ab,
        |    MAX(a.c) AS na, MAX(b.c) AS nb
        |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id
        |    AND a.tok < b.tok
        |  GROUP BY 1, 2)
        |SELECT tok_a, tok_b, n_ab,
        |  ROUND(ln(CAST(n_ab AS DOUBLE) * n
        |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6) AS pmi
        |FROM pr, nd
        |ORDER BY n_ab DESC, tok_a, tok_b LIMIT 25""".stripMargin,

    // same whitespace token grid, exact MIN first-doc, integer
    // division buckets
    "q346_vocab_growth" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 50 = 0 THEN
        |      text || ' uniq' || CAST(doc_id AS VARCHAR)
        |    ELSE text END AS text
        |  FROM documents),
        |tk AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM p
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |fs AS (SELECT tok, MIN(doc_id) AS f FROM tk GROUP BY tok)
        |SELECT CAST(f // 100 AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_new_tokens
        |FROM fs GROUP BY 1 ORDER BY 1""".stripMargin,

    "q40_dedup_exact" ->
      """WITH t AS (SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, text FROM t
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q42_dedup_ngram_jaccard" ->
      s"""WITH t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id % 50 AS blk, doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.s, b.s)))
         |           AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    // md5-60-bit simhash reproduced bit-for-bit: per-token hex->BIGINT
    // hash, 60 bit-vote sums, recombination (disjoint bits: + == OR)
    "q43_dedup_simhash" -> {
      val votes = (0 until 60).map(k =>
        s"SUM(CASE WHEN (h >> $k) & 1 = 1 THEN 1 ELSE -1 END) AS v$k")
        .mkString(", ")
      val bits = (0 until 60).map(k =>
        s"CASE WHEN v$k > 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS ($docsWithDupsSql),
         |tok AS (SELECT doc_id,
         |  unnest(string_split(text, ' ')) AS tk FROM t),
         |hh AS (SELECT doc_id,
         |  CAST('0x' || substring(md5(tk), 1, 15) AS BIGINT) AS h
         |  FROM tok),
         |v AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
         |s AS (SELECT doc_id, $bits AS simhash FROM v)
         |SELECT simhash, COUNT(*) AS n, MIN(doc_id) AS keep_id
         |FROM s GROUP BY 1 HAVING COUNT(*) > 1
         |ORDER BY keep_id""".stripMargin
    },

    // exhaustive all-pairs truth (no blocking): matching it certifies
    // both the verification arithmetic AND 100% LSH candidate recall
    // on this corpus (min true J = 0.889 -> band-hit p >= 0.9996)
    "q41_dedup_minhash_lsh" ->
      s"""WITH t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE), 6) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |      CAST(len(list_distinct(list_concat(a.s, b.s)))
         |           AS DOUBLE) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "q44_dedup_embedding" ->
      """WITH q AS (SELECT label AS blk, vec_id,
        |  list_transform(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(list_sum(list_transform(list_zip(a.v, b.v),
        |    x -> x[1]*x[2])) AS DOUBLE) /
        |  (SQRT(CAST(list_sum(list_transform(a.v, x -> x*x))
        |        AS DOUBLE)) *
        |   SQRT(CAST(list_sum(list_transform(b.v, x -> x*x))
        |        AS DOUBLE))) AS cosine
        |  FROM q a JOIN q b ON a.blk = b.blk AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
        |FROM p WHERE cosine >= 0.25 ORDER BY 1, 2""".stripMargin,

    // exhaustive closure + cluster sizes + integer-count division:
    // the q144/q145 truth machinery with a COUNT readout
    "q154_cluster_weights" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
         |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
         |k AS (SELECT t.doc_id, COALESCE(m.comp, t.doc_id) AS key
         |  FROM t LEFT JOIN m ON t.doc_id = m.id),
         |sz AS (SELECT key, COUNT(*) AS n FROM k GROUP BY key)
         |SELECT k.doc_id,
         |  ROUND(CAST(1 AS DOUBLE) / CAST(sz.n AS DOUBLE), 6)
         |    AS sample_weight
         |FROM k JOIN sz USING (key)
         |ORDER BY 1""".stripMargin,

    // exhaustive closure (the q83 truth) + per-cluster argmax of the
    // same mixHash the engine scores with: ORDER BY score DESC, id ==
    // the operator's max_by(struct(score, -id))
    "q145_dedup_keep_best" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
         |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
         |k AS (SELECT t.doc_id, COALESCE(m.comp, t.doc_id) AS key
         |  FROM t LEFT JOIN m ON t.doc_id = m.id),
         |r AS (SELECT doc_id, row_number() OVER (PARTITION BY key
         |    ORDER BY ((doc_id % 2147483648) * 2654435761)
         |      % 4294967296 DESC, doc_id) AS rn
         |  FROM k)
         |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // exhaustive all-pairs jaccard>=0.5 closure (the q83 truth), then
    // split key = COALESCE(component min id, own id) through the
    // identical md5-mod-100 rule as q129 (salt 'lsplit')
    "q144_leakage_safe_split" ->
      s"""WITH RECURSIVE t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |e AS (SELECT a.doc_id AS ia, b.doc_id AS ib
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
         |        CAST(len(list_distinct(list_concat(a.s, b.s)))
         |             AS DOUBLE) >= 0.5),
         |u AS (SELECT ia AS a, ib AS b FROM e
         |      UNION SELECT ib, ia FROM e),
         |cc(id, comp) AS (
         |  SELECT a, a FROM u
         |  UNION
         |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
         |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
         |k AS (SELECT t.doc_id, COALESCE(m.comp, t.doc_id) AS key
         |  FROM t LEFT JOIN m ON t.doc_id = m.id)
         |SELECT doc_id,
         |  CASE WHEN b < 80 THEN 'train'
         |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |    CAST('0x' || substring(
         |      md5(CAST(key AS VARCHAR) || '#lsplit'), 1, 15)
         |      AS BIGINT) % 100 AS b
         |  FROM k)
         |ORDER BY doc_id""".stripMargin,

    // mirrors containmentPairs exactly: distinct 3-gram shingle sets,
    // df-pruned (df in [2,100]) inverted-index candidates, exact
    // list_intersect verify, both directed values from the one shared
    // count — integer/integer division, bit-identical across engines
    "q143_ngram_containment" ->
      s"""WITH t AS ($docsWithDupsSql),
         |sh AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(
         |      range(0, len(string_split(text,' ')) - 2),
         |      i -> array_to_string(
         |        string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [] END) AS s
         |  FROM t),
         |rows_ AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |rare AS (SELECT g FROM rows_ GROUP BY g
         |  HAVING count(*) BETWEEN 2 AND 100),
         |pr AS (SELECT r.doc_id, r.g FROM rows_ r JOIN rare USING (g)),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM pr a JOIN pr b ON a.g = b.g AND a.doc_id < b.doc_id),
         |j AS (SELECT ia, ib,
         |  len(list_intersect(sa.s, sb.s)) AS shared,
         |  len(sa.s) AS na, len(sb.s) AS nb
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = ia
         |  JOIN sh sb ON sb.doc_id = ib),
         |d AS (SELECT ia AS src_id, ib AS dst_id,
         |    CAST(shared AS DOUBLE) / CAST(na AS DOUBLE) AS containment
         |  FROM j
         |  UNION ALL
         |  SELECT ib, ia,
         |    CAST(shared AS DOUBLE) / CAST(nb AS DOUBLE) FROM j)
         |SELECT src_id, dst_id, ROUND(containment, 6) AS containment
         |FROM d WHERE containment >= 0.8 ORDER BY 1, 2""".stripMargin,

    // mirrors embeddingNearDupsIvf exactly: seeds = 8 smallest
    // vec_ids; cos = int-quantized dot / (SQRT(a)*SQRT(b)) in that
    // operand order (bit-identical IEEE tail to the Spark plan);
    // argmax tie -> smallest seed id (row_number cos DESC, sid ASC ==
    // the strict-> fold in ascending seed order)
    "q142_dedup_embedding_ivf" ->
      """WITH q AS (SELECT vec_id,
        |  list_transform(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS sid, v AS sv FROM q
        |  ORDER BY vec_id LIMIT 8),
        |asg AS (SELECT q.vec_id, q.v, s.sid,
        |  CAST(list_sum(list_transform(list_zip(q.v, s.sv),
        |    x -> x[1]*x[2])) AS DOUBLE) /
        |  (SQRT(CAST(list_sum(list_transform(q.v, x -> x*x))
        |        AS DOUBLE)) *
        |   SQRT(CAST(list_sum(list_transform(s.sv, x -> x*x))
        |        AS DOUBLE))) AS c
        |  FROM q, seeds s),
        |best AS (SELECT vec_id, v, sid FROM (
        |  SELECT vec_id, v, sid, row_number() OVER
        |    (PARTITION BY vec_id ORDER BY c DESC, sid) AS rn
        |  FROM asg) WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(list_sum(list_transform(list_zip(a.v, b.v),
        |    x -> x[1]*x[2])) AS DOUBLE) /
        |  (SQRT(CAST(list_sum(list_transform(a.v, x -> x*x))
        |        AS DOUBLE)) *
        |   SQRT(CAST(list_sum(list_transform(b.v, x -> x*x))
        |        AS DOUBLE))) AS cosine
        |  FROM best a JOIN best b
        |    ON a.sid = b.sid AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, ROUND(cosine, 6) AS cosine
        |FROM p WHERE cosine >= 0.25 ORDER BY 1, 2""".stripMargin,

    "q114_embedding_dedup_e2e" ->
      """WITH RECURSIVE q AS (SELECT label AS blk, vec_id,
        |  list_transform(embedding,
        |    x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |e AS (SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM q a JOIN q b ON a.blk = b.blk AND a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v),
        |      x -> x[1]*x[2])) AS DOUBLE) /
        |    (SQRT(CAST(list_sum(list_transform(a.v, x -> x*x))
        |          AS DOUBLE)) *
        |     SQRT(CAST(list_sum(list_transform(b.v, x -> x*x))
        |          AS DOUBLE))) >= 0.25),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
        |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id)
        |SELECT q.vec_id FROM q LEFT JOIN m ON q.vec_id = m.id
        |WHERE m.id IS NULL OR m.comp = q.vec_id
        |ORDER BY q.vec_id""".stripMargin,

    "q45_knn_bruteforce" -> knnTopkTruthSql,

    "q47_lang_id" -> {
      val maxExpr = TextOps.Langs.map(langHitsSql).mkString("GREATEST(", ", ", ")")
      val chain = TextOps.Langs.reverse.foldLeft("'unknown'") { (acc, l) =>
        s"CASE WHEN ${langHitsSql(l)} = m AND m > 0 THEN '$l' ELSE $acc END"
      }
      s"""WITH t AS (SELECT doc_id, text, $maxExpr AS m FROM documents)
         |SELECT doc_id, $chain AS lang_pred
         |FROM t ORDER BY 1""".stripMargin
    },

    // the whole funnel replayed in SQL: dedup on the SAME normalized
    // fingerprint, then language/quality/token stages, same gates
    "q73_curation_funnel" -> {
      val maxExpr = TextOps.Langs.map(langHitsSql)
        .mkString("GREATEST(", ", ", ")")
      val chain = TextOps.Langs.reverse.foldLeft("'unknown'") {
        (acc, l) =>
          s"CASE WHEN ${langHitsSql(l)} = m AND m > 0 THEN '$l' ELSE $acc END"
      }
      val stopsAll = TextOps.Langs.map(langHitsSql).mkString(" + ")
      s"""WITH corpus AS (SELECT * FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 7 = 0),
         |dd AS (SELECT doc_id, text FROM corpus
         |  QUALIFY row_number() OVER (
         |    PARTITION BY md5(regexp_replace(lower(text), ' +', ' ', 'g'))
         |    ORDER BY doc_id) = 1),
         |t AS (SELECT doc_id, text, $maxExpr AS m,
         |  CAST(len(text) AS DOUBLE) AS nc,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
         |       AS DOUBLE) AS punct,
         |  CAST($stopsAll AS DOUBLE) AS stops
         |  FROM dd),
         |s AS (SELECT doc_id, text, $chain AS lang_pred,
         |  0.4 * LEAST(nc / 500.0, 1.0) +
         |  0.3 * LEAST((stops / nt) * 5.0, 1.0) +
         |  0.2 * LEAST(((nc - (nt - 1.0)) / nt) / 8.0, 1.0) +
         |  0.1 * (1.0 - LEAST((punct / nc) * 10.0, 1.0)) AS quality
         |  FROM t)
         |SELECT doc_id, lang_pred, ROUND(quality, 6) AS quality,
         |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS INTEGER)
         |      AS bpeish_tokens
         |FROM s
         |WHERE lang_pred <> 'unknown' AND quality >= 0.5
         |ORDER BY 1""".stripMargin
    },

    "q48_quality_score" -> {
      val stopsAll = TextOps.Langs.map(langHitsSql)
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id,
         |  CAST(len(text) AS DOUBLE) AS n_chars_q,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
         |       AS DOUBLE) AS punct,
         |  CAST($stopsAll AS DOUBLE) AS stops
         |  FROM documents)
         |SELECT doc_id, n_chars_q, n_tokens,
         |  punct / n_chars_q AS punct_ratio,
         |  stops / n_tokens AS stopword_ratio,
         |  (n_chars_q - (n_tokens - 1.0)) / n_tokens AS mean_token_len,
         |  0.4 * LEAST(n_chars_q / 500.0, 1.0) +
         |  0.3 * LEAST((stops / n_tokens) * 5.0, 1.0) +
         |  0.2 * LEAST(((n_chars_q - (n_tokens - 1.0)) / n_tokens)
         |              / 8.0, 1.0) +
         |  0.1 * (1.0 - LEAST((punct / n_chars_q) * 10.0, 1.0))
         |    AS quality
         |FROM t ORDER BY 1""".stripMargin
    },

    "q49_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS INTEGER)
        |      AS bpeish_tokens
        |FROM documents ORDER BY 1""".stripMargin,

    // q48's exact composite score + the q87 per-group interp bracket
    // at 0.75 + the >= gate
    "q160_quality_gate" -> {
      val stopsAll = TextOps.Langs.map(langHitsSql).mkString(" + ")
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(len(text) AS DOUBLE) AS nc,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
         |       AS DOUBLE) AS punct,
         |  CAST($stopsAll AS DOUBLE) AS stops
         |  FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  0.4 * LEAST(nc / 500.0, 1.0) +
         |  0.3 * LEAST((stops / nt) * 5.0, 1.0) +
         |  0.2 * LEAST(((nc - (nt - 1.0)) / nt) / 8.0, 1.0) +
         |  0.1 * (1.0 - LEAST((punct / nc) * 10.0, 1.0)) AS quality
         |  FROM t),
         |g AS (SELECT lang AS k, quality AS v, COUNT(*) AS w
         |  FROM sc WHERE quality IS NOT NULL AND NOT isnan(quality)
         |  GROUP BY 1, 2),
         |c AS (SELECT k, v,
         |    SUM(w) OVER (PARTITION BY k ORDER BY v) * 1.0 /
         |      SUM(w) OVER (PARTITION BY k) AS f
         |  FROM g),
         |b AS (SELECT k,
         |  MAX(CASE WHEN f <= 0.75 THEN f END) AS f_lo,
         |  MAX(CASE WHEN f <= 0.75 THEN v END) AS v_lo,
         |  MIN(CASE WHEN f >= 0.75 THEN f END) AS f_hi,
         |  MIN(CASE WHEN f >= 0.75 THEN v END) AS v_hi
         |  FROM c GROUP BY k),
         |thr AS (SELECT k, CASE
         |   WHEN f_lo IS NULL THEN v_hi
         |   WHEN f_hi IS NULL OR f_hi = f_lo THEN v_lo
         |   ELSE v_lo + (0.75 - f_lo)/(f_hi - f_lo)*(v_hi - v_lo)
         |   END AS t FROM b)
         |SELECT sc.doc_id, sc.lang, ROUND(sc.quality, 6) AS quality
         |FROM sc JOIN thr ON sc.lang = thr.k
         |WHERE sc.quality IS NOT NULL AND NOT isnan(sc.quality)
         |  AND sc.quality >= thr.t
         |ORDER BY 1""".stripMargin
    },

    "q50_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), ' +', ' ', 'g')) AS fp_md5
        |FROM documents ORDER BY 1""".stripMargin,

    "q53_snapshot_lineage" ->
      """SELECT CAST(doc_id % 16 AS INTEGER) AS bucket,
        |       COUNT(*) AS n_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the store round-trip + residual filter must be value-exact;
    // the bucket skip itself is require()d inside the query
    "q205_snapshot_pruned_read" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id BETWEEN 120 AND 180 ORDER BY 1""".stripMargin,

    "q61_winnow_fingerprint" ->
      s"""SELECT doc_id, fp
         |FROM ${winnowSql("SELECT doc_id, text FROM documents")}
         |ORDER BY 1, 2""".stripMargin,

    // the parquet under /tmp is written by the q51 query itself before
    // this SQL runs (Verify dumps first, the oracle compares after)
    "q51_multimodal_meta" ->
      """SELECT image_id,
        |  octet_length(bytes) AS payload_bytes,
        |  CASE WHEN substring(hex(bytes), 1, 16) = '89504E470D0A1A0A'
        |         THEN 'png'
        |       WHEN substring(hex(bytes), 1, 4) = 'FFD8' THEN 'jpeg'
        |       ELSE 'unknown' END AS sniffed_fmt,
        |  CAST(octet_length(bytes) AS DOUBLE) / (w * h)
        |    AS bytes_per_pixel
        |FROM read_parquet('/tmp/graft_oracle_images_q51/*.parquet')
        |ORDER BY 1""".stripMargin,

    // the twins are known by construction; the engine must report the
    // pixel-derived hash equal across containers for every one
    "q124_ahash_transcode" ->
      """SELECT printf('img_%010d', i) AS image_id,
        |  TRUE AS hash_invariant
        |FROM range(0, 150) t(i) WHERE i % 10 = 0
        |ORDER BY 1""".stripMargin,

    // the twins are known by construction; integer channel sums are
    // pixel-matrix functions, so every pair must report TRUE
    "q187_channel_norm_invariant" ->
      """SELECT printf('img_%010d', i) AS image_id,
        |  TRUE AS sums_invariant
        |FROM range(0, 150) t(i) WHERE i % 10 = 0
        |ORDER BY 1""".stripMargin,

    // per-key recomputation of the sketch rule (same bin assignment,
    // same bin-ordered cumulative sums, same clamped interpolation)
    "q121_grouped_hist_sketch" ->
      """WITH v AS (SELECT l_returnflag AS k, l_extendedprice AS v
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |mm AS (SELECT k, min(v) AS mn, max(v) AS mx,
        |    (max(v) - min(v)) / 256 AS width,
        |    CAST(count(*) AS DOUBLE) AS tot FROM v GROUP BY k),
        |hist AS (SELECT v.k,
        |    CAST(CASE WHEN width = 0 THEN 0
        |      ELSE least(floor((v - mn) / width), 255) END AS INT) AS b,
        |    CAST(count(*) AS DOUBLE) AS cw
        |  FROM v JOIN mm ON v.k = mm.k GROUP BY 1, 2),
        |cum AS (SELECT k, b, cw,
        |    sum(cw) OVER (PARTITION BY k ORDER BY b) AS cum FROM hist),
        |p AS (SELECT CAST(prob AS DOUBLE) AS prob
        |  FROM (VALUES (0.25), (0.5), (0.95)) t(prob)),
        |tgt AS (SELECT mm.k, p.prob, p.prob * mm.tot AS target,
        |    mm.mn, mm.width FROM mm CROSS JOIN p),
        |hit AS (SELECT t.k, t.prob, t.mn, t.width, t.target,
        |    min(c.b) AS b
        |  FROM tgt t JOIN cum c ON c.k = t.k AND c.cum >= t.target
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT h.k AS l_returnflag, h.prob,
        |  ROUND(h.mn + (h.b + greatest(least(
        |    (h.target - (c.cum - c.cw)) / c.cw, 1.0), 0.0)) * h.width,
        |    6) AS value
        |FROM hit h JOIN cum c ON c.k = h.k AND c.b = h.b
        |ORDER BY 1, 2""".stripMargin,

    // the corrupted ids are known by construction; the audit must keep
    // exactly the complement
    "q120_payload_quarantine" ->
      """SELECT image_id
        |FROM read_parquet('/tmp/graft_oracle_images_q120/*.parquet')
        |WHERE CAST(substring(image_id, 5) AS BIGINT) % 25 != 0
        |ORDER BY 1""".stripMargin,

    "q119_unigram_surprisal" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS t FROM documents),
        |lm AS (SELECT t, CAST(count(*) AS DOUBLE) AS c
        |  FROM toks GROUP BY t),
        |tot AS (SELECT sum(c) AS s FROM lm)
        |SELECT toks.doc_id,
        |  ROUND(avg(-ln(lm.c / tot.s)), 6) AS surprisal
        |FROM toks JOIN lm ON toks.t = lm.t CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q118_zorder_layout" -> {
      val terms = (0 until 8).flatMap(l => Seq(
        s"(((bq >> $l) & 1) << ${2 * l})",
        s"(((be >> $l) & 1) << ${2 * l + 1})")).mkString(" | ")
      s"""WITH mm AS (SELECT
         |    min(l_quantity) AS mnq, max(l_quantity) AS mxq,
         |    min(l_extendedprice) AS mne, max(l_extendedprice) AS mxe
         |  FROM lineitem),
         |b AS (SELECT l_orderkey, l_linenumber,
         |    least(greatest(CAST(floor((l_quantity - mnq) /
         |      ((mxq - mnq) / 256)) AS BIGINT), 0), 255) AS bq,
         |    least(greatest(CAST(floor((l_extendedprice - mne) /
         |      ((mxe - mne) / 256)) AS BIGINT), 0), 255) AS be
         |  FROM lineitem, mm)
         |SELECT l_orderkey, l_linenumber,
         |  CAST($terms AS BIGINT) AS z
         |FROM b ORDER BY 1, 2""".stripMargin
    },

    "q117_hashed_tf" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS t FROM documents)
        |SELECT doc_id,
        |  CAST(CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)
        |    % 128 AS INTEGER) AS bucket,
        |  CAST(sum(CASE WHEN CAST('0x' || substring(md5(t), 17, 1)
        |      AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS tf
        |FROM toks GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the invariant IS the oracle: every row must decode at declared
    // dims with passing pixels and an intact caption — any false or
    // mismatched dimension on the Spark side hash-mismatches here
    "q115_payload_audit" ->
      """SELECT image_id, fmt, w AS decoded_w, h AS decoded_h,
        |  TRUE AS pixels_ok, TRUE AS caption_ok
        |FROM read_parquet('/tmp/graft_oracle_images_q115/*.parquet')
        |ORDER BY 1""".stripMargin,

    // same dup injection as the Spark side; bit_count over
    // two's-complement xor is engine-portable
    "q62_phash_neardup" ->
      """WITH base AS (SELECT image_id, phash
        |  FROM read_parquet('/tmp/graft_oracle_images_q62/*.parquet')),
        |t AS (SELECT * FROM base
        |      UNION ALL
        |      SELECT image_id || '_d', xor(phash, 257) FROM base
        |      WHERE CAST(substring(image_id, 5) AS BIGINT) % 10 = 0)
        |SELECT a.image_id AS id_a, b.image_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        |FROM t a JOIN t b ON a.image_id < b.image_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // the construction IS the truth: a crop of i matches tile 0 of
    // exactly the sources with i's pixel identity — same (w, h),
    // same render phases (id mod 7 / mod 11 — the pixelSeed offset
    // 42*1000003 is ≡0 mod 7 and cancels mod 11), same codec path
    // (jpeg loss differentiates png/jpeg twins). Any extra or
    // missing pair fails the compare
    "q336_crop_neardup" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS i, w, h,
        |    CASE WHEN fmt = 'webp' THEN 'jpeg' ELSE fmt END AS fmt
        |  FROM read_parquet('/tmp/graft_oracle_images_q336/*.parquet')),
        |crops AS (SELECT *,
        |    CASE WHEN i % 10 = 0 THEN 0 ELSE 3 END AS tile
        |  FROM base WHERE i % 10 = 0 OR i % 10 = 5)
        |SELECT printf('img_%010d', c.i) || '_c' AS crop_id,
        |  printf('img_%010d', s.i) AS src_id,
        |  CAST(c.tile AS INTEGER) AS tile_idx
        |FROM crops c JOIN base s ON c.w = s.w AND c.h = s.h
        |  AND c.i % 7 = s.i % 7 AND c.i % 11 = s.i % 11
        |  AND c.fmt = s.fmt
        |ORDER BY 1, 2, 3""".stripMargin,

    // the construction IS the truth: survivors = not corrupt, not
    // flat, and no smaller-id alive twin with the same pixel
    // identity (w, h, id mod 7 / mod 11 phases, codec path); the
    // planted transcode copies always lose keep-smallest to their
    // own originals
    "q367_image_funnel" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS i, w, h,
        |    CASE WHEN fmt = 'webp' THEN 'jpeg' ELSE fmt END AS fmt
        |  FROM read_parquet('/tmp/graft_oracle_images_q367/*.parquet')),
        |alive AS (SELECT * FROM base
        |  WHERE i % 13 <> 0 AND i % 20 <> 0)
        |SELECT printf('img_%010d', a.i) AS image_id FROM alive a
        |WHERE NOT EXISTS (SELECT 1 FROM alive b WHERE b.i < a.i
        |  AND b.w = a.w AND b.h = a.h AND b.i % 7 = a.i % 7
        |  AND b.i % 11 = a.i % 11 AND b.fmt = a.fmt)
        |ORDER BY 1""".stripMargin,

    // the same construction algebra at count grain: pool = 400 +
    // copies; each stage's predicate counts; kept = the q367
    // NOT-EXISTS survivor rule
    "q368_image_funnel_report" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS i, w, h,
        |    CASE WHEN fmt = 'webp' THEN 'jpeg' ELSE fmt END AS fmt
        |  FROM read_parquet('/tmp/graft_oracle_images_q368/*.parquet')),
        |copies AS (SELECT COUNT(*) AS nc FROM base
        |  WHERE i % 13 <> 0 AND i % 20 <> 0 AND i % 10 = 0),
        |alive AS (SELECT * FROM base
        |  WHERE i % 13 <> 0 AND i % 20 <> 0),
        |kept AS (SELECT COUNT(*) AS nk FROM alive a
        |  WHERE NOT EXISTS (SELECT 1 FROM alive b WHERE b.i < a.i
        |    AND b.w = a.w AND b.h = a.h AND b.i % 7 = a.i % 7
        |    AND b.i % 11 = a.i % 11 AND b.fmt = a.fmt))
        |SELECT
        |  CAST(400 + nc AS BIGINT) AS n_pool,
        |  CAST((SELECT COUNT(*) FROM base WHERE i % 13 = 0)
        |    AS BIGINT) AS n_quarantined,
        |  CAST((SELECT COUNT(*) FROM base
        |    WHERE i % 13 <> 0 AND i % 20 = 0) AS BIGINT) AS n_flat,
        |  CAST((SELECT COUNT(*) FROM alive) + nc - nk AS BIGINT)
        |    AS n_dedup_dropped,
        |  CAST(nk AS BIGINT) AS n_kept
        |FROM copies, kept""".stripMargin,

    // the q195 pair recovery; token sets = lowercase whitespace
    // split, empties filtered, distinct; |union| = |a|+|b|-|inter|
    "q203_caption_jaccard" ->
      """WITH base AS (SELECT image_id, phash, caption
        |  FROM read_parquet('/tmp/graft_oracle_images_q203/*.parquet')),
        |t AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT image_id || '_d', xor(phash, 257),
        |    CASE
        |      WHEN CAST(substring(image_id, 5) AS BIGINT) % 40 = 0
        |        THEN caption || ' v2'
        |      WHEN CAST(substring(image_id, 5) AS BIGINT) % 20 = 0
        |        THEN upper(caption)
        |      ELSE caption END
        |  FROM base
        |  WHERE CAST(substring(image_id, 5) AS BIGINT) % 10 = 0),
        |p AS (SELECT a.image_id AS id_a, b.image_id AS id_b,
        |    list_distinct(list_filter(string_split(
        |      lower(trim(a.caption)), ' '), x -> x <> '')) AS ta,
        |    list_distinct(list_filter(string_split(
        |      lower(trim(b.caption)), ' '), x -> x <> '')) AS tb,
        |    a.caption AS ca, b.caption AS cb
        |  FROM t a JOIN t b ON a.image_id < b.image_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |j AS (SELECT id_a, id_b, ca, cb,
        |    len(list_intersect(ta, tb)) AS i,
        |    len(ta) + len(tb) - len(list_intersect(ta, tb)) AS u
        |  FROM p)
        |SELECT id_a, id_b,
        |  ROUND(CASE WHEN ca IS NULL OR cb IS NULL THEN NULL
        |    WHEN u = 0 THEN NULL
        |    ELSE CAST(i AS DOUBLE) / CAST(u AS DOUBLE) END, 6)
        |    AS caption_jaccard
        |FROM j ORDER BY 1, 2""".stripMargin,

    // all-integer token math mirrored exactly: DuckDB // == Spark div
    // on BIGINT, window SUM cast back from HUGEINT, regex-split
    // caption token count
    "q207_patch_pack" ->
      """WITH base AS (SELECT image_id, w, h, caption
        |  FROM read_parquet('/tmp/graft_oracle_images_q207/*.parquet')),
        |cost AS (SELECT image_id,
        |    ((CAST(w AS BIGINT) + 13) // 14) *
        |      ((CAST(h AS BIGINT) + 13) // 14) AS img_tokens,
        |    CASE WHEN caption IS NULL OR trim(caption) = '' THEN 0
        |      ELSE CAST(len(string_split_regex(trim(caption), '\s+'))
        |        AS BIGINT) END AS txt_tokens
        |  FROM base),
        |c2 AS (SELECT image_id, img_tokens, txt_tokens,
        |    img_tokens + txt_tokens + 2 AS tokens FROM cost),
        |c3 AS (SELECT *, CAST(COALESCE(SUM(tokens) OVER (
        |    ORDER BY image_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before FROM c2)
        |SELECT image_id, img_tokens, txt_tokens, tokens, cum_before,
        |  cum_before // 256 AS start_block,
        |  cum_before % 256 AS start_offset,
        |  (cum_before + GREATEST(tokens, 1) - 1) // 256 AS end_block
        |FROM c3 ORDER BY image_id""".stripMargin,

    // exhaustive all-pairs Hamming truth over corpus + planted batch,
    // restricted to pairs touching the batch (batch ids >= 1e6; the
    // greater pair member decides). SHARED with q210 (streaming
    // ingest of the same batch in two micro-batches).
    "q208_phash_index" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, phash
        |  FROM read_parquet('/tmp/graft_oracle_images_q208/*.parquet')),
        |batch AS (
        |  SELECT id + 1000000 AS id, xor(phash, 257) AS phash
        |    FROM base WHERE id % 8 = 0
        |  UNION ALL
        |  SELECT id + 1000000, xor(phash, -1) FROM base WHERE id % 8 = 3
        |  UNION ALL
        |  SELECT id + 2000000, xor(phash, 259) FROM base
        |    WHERE id % 16 = 0),
        |t AS (SELECT * FROM base UNION ALL SELECT * FROM batch)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        |FROM t a JOIN t b ON a.id < b.id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |  AND b.id >= 1000000
        |ORDER BY 1, 2""".stripMargin,

    // snap = argmin over the ladder of |w*bh - h*bw| / bh (exact
    // integer cross product, one IEEE division — identical doubles in
    // both engines), tie -> earliest ladder entry; rank/batch by
    // per-bucket row_number; crop_frac from exact integer operands
    "q209_aspect_buckets" ->
      s"""WITH base AS (SELECT image_id, CAST(w AS BIGINT) AS w,
        |    CAST(h AS BIGINT) AS h
        |  FROM read_parquet('/tmp/graft_oracle_images_q209/*.parquet')),
        |ladder(bucket_idx, bucket_w, bucket_h) AS (VALUES
        |  ${AspectLadder.zipWithIndex
              .map { case ((bw, bh), i) => s"($i, $bw, $bh)" }
              .mkString(", ")}),
        |scored AS (SELECT b.image_id, b.w, b.h, l.bucket_idx,
        |    l.bucket_w, l.bucket_h,
        |    CAST(abs(b.w * l.bucket_h - b.h * l.bucket_w) AS DOUBLE) /
        |      CAST(l.bucket_h AS DOUBLE) AS d
        |  FROM base b CROSS JOIN ladder l),
        |best AS (SELECT *, row_number() OVER (PARTITION BY image_id
        |    ORDER BY d, bucket_idx) AS rn FROM scored),
        |ranked AS (SELECT image_id, w, h, bucket_idx, bucket_w,
        |    bucket_h,
        |    row_number() OVER (PARTITION BY bucket_idx
        |      ORDER BY image_id) - 1 AS rank_in_bucket
        |  FROM best WHERE rn = 1)
        |SELECT image_id, bucket_idx, bucket_w, bucket_h,
        |  rank_in_bucket, rank_in_bucket // 16 AS batch_idx,
        |  round(1.0 -
        |    CAST(least(w * bucket_h, h * bucket_w) AS DOUBLE) /
        |    CAST(greatest(w * bucket_h, h * bucket_w) AS DOUBLE), 6)
        |    AS crop_frac
        |FROM ranked ORDER BY image_id""".stripMargin,

    // exhaustive truth for the image e2e: all-pairs Hamming edges
    // over corpus + dim-carrying twins, recursive-CTE components,
    // keep max pixels / tie smallest id, singletons survive
    "q211_image_dedup_e2e" ->
      """WITH RECURSIVE base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, phash, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q208/*.parquet')),
        |t AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT id + 1000000, xor(phash, 257), w, h FROM base
        |    WHERE id % 8 = 0
        |  UNION ALL
        |  SELECT id + 1000000, xor(phash, -1), w, h FROM base
        |    WHERE id % 8 = 3
        |  UNION ALL
        |  SELECT id + 2000000, xor(phash, 259), w * 2, h * 2
        |    FROM base WHERE id % 16 = 0),
        |e AS (SELECT a.id AS ia, b.id AS ib
        |  FROM t a JOIN t b ON a.id < b.id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
        |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
        |k AS (SELECT t.id, t.w, t.h,
        |    COALESCE(m.comp, t.id) AS key,
        |    CAST(t.w AS BIGINT) * t.h AS px
        |  FROM t LEFT JOIN m ON t.id = m.id),
        |best AS (SELECT *, row_number() OVER (PARTITION BY key
        |    ORDER BY px DESC, id) AS rn FROM k)
        |SELECT id, w, h FROM best WHERE rn = 1
        |ORDER BY id""".stripMargin,

    // the two-round Knuth mix replayed verbatim; epoch 3 term =
    // (3 * 2246822519) mod 2^32 = 2445500261
    "q212_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |    ((((((doc_id % 2147483648) * 2654435761) % 4294967296)
        |        + 2445500261) % 4294967296 % 2147483648)
        |      * 2654435761) % 4294967296 AS eh
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY eh, doc_id) - 1 AS shuffle_pos
        |FROM h ORDER BY doc_id""".stripMargin,

    // pair fates are id-pattern functions of the stored table;
    // dims_match for the far pairs is recomputed from the stored dims
    "q213_pair_psnr_verify" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, fmt, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q213/*.parquet')),
        |p AS (
        |  SELECT id AS id_a, id + 1000000 AS id_b,
        |      TRUE AS dims_match, TRUE AS is_dup
        |    FROM base WHERE id % 10 = 0
        |  UNION ALL
        |  SELECT id, id + 2000000, TRUE, TRUE FROM base
        |    WHERE id % 10 = 5 AND fmt = 'png'
        |  UNION ALL
        |  SELECT a.id, b.id, FALSE, FALSE
        |    FROM base a JOIN base b ON b.id = a.id + 1
        |      AND (a.w <> b.w OR a.h <> b.h)
        |    WHERE a.id % 10 = 1)
        |SELECT id_a, id_b, TRUE AS decode_ok, dims_match, is_dup
        |FROM p ORDER BY 1, 2""".stripMargin,

    // q195's twin injection -> components (recursive CTE) -> election
    // as a window rank: votes DESC, length DESC, caption ASC
    "q214_caption_election" ->
      """WITH RECURSIVE base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, phash, caption
        |  FROM read_parquet('/tmp/graft_oracle_images_q214/*.parquet')),
        |t AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT id + 1000000, xor(phash, 257),
        |    CASE WHEN id % 40 = 0 THEN caption || ' v2'
        |         WHEN id % 20 = 0 THEN upper(caption)
        |         ELSE caption END
        |  FROM base WHERE id % 10 = 0),
        |e AS (SELECT a.id AS ia, b.id AS ib
        |  FROM t a JOIN t b ON a.id < b.id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
        |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
        |k AS (SELECT t.id, t.caption,
        |    COALESCE(m.comp, t.id) AS cluster
        |  FROM t LEFT JOIN m ON t.id = m.id),
        |v AS (SELECT cluster, caption, COUNT(*) AS votes
        |  FROM k WHERE caption IS NOT NULL GROUP BY 1, 2),
        |el AS (SELECT cluster, caption AS canonical_caption,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY votes DESC, length(caption) DESC, caption) AS rn
        |  FROM v)
        |SELECT k.id, k.cluster, e2.canonical_caption
        |FROM k LEFT JOIN (SELECT cluster, canonical_caption
        |  FROM el WHERE rn = 1) e2 USING (cluster)
        |ORDER BY k.id""".stripMargin,

    // byte spans from the running byte sum; rows re-counted within
    // each span by a partitioned row_number
    "q215_pack_shards_dual" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_bytes_before,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS seq
        |  FROM documents)
        |SELECT doc_id, n_chars, cum_bytes_before, seq,
        |  cum_bytes_before // 100000 AS byte_shard,
        |  (row_number() OVER (PARTITION BY cum_bytes_before // 100000
        |    ORDER BY doc_id) - 1) // 25 AS shard_in_span
        |FROM c ORDER BY doc_id""".stripMargin,

    // exhaustive Hamming truth for the banded cross-set join
    "q243_image_decontaminate" ->
      """WITH base AS (SELECT image_id, phash
        |  FROM read_parquet('/tmp/graft_oracle_images_q243/*.parquet')),
        |e AS (SELECT xor(phash, 4) AS ep FROM base
        |  WHERE CAST(substring(image_id, 5) AS BIGINT) % 10 = 0),
        |m AS (SELECT b.image_id, count(*) AS n
        |  FROM base b JOIN e ON bit_count(xor(b.phash, e.ep)) <= 3
        |  GROUP BY 1)
        |SELECT b.image_id, b.phash,
        |  COALESCE(m.n, 0) > 0 AS contaminated,
        |  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_eval_matches
        |FROM base b LEFT JOIN m ON b.image_id = m.image_id
        |ORDER BY b.image_id""".stripMargin,

    // both planted variants normalize to one template; unique
    // captions count 1 and stay clean
    "q244_caption_boilerplate" ->
      """WITH base AS (SELECT image_id,
        |    CASE WHEN CAST(substring(image_id, 5) AS BIGINT) % 14 = 0
        |        THEN 'click here to enlarge'
        |      WHEN CAST(substring(image_id, 5) AS BIGINT) % 7 = 0
        |        THEN '  Click   HERE to Enlarge '
        |      ELSE caption END AS caption
        |  FROM read_parquet('/tmp/graft_oracle_images_q244/*.parquet')),
        |n AS (SELECT image_id,
        |    regexp_replace(lower(trim(caption)), '\s+', ' ', 'g') AS nc
        |  FROM base),
        |c AS (SELECT nc, count(*) AS caption_count FROM n
        |  WHERE nc IS NOT NULL AND nc <> '' GROUP BY 1)
        |SELECT n.image_id,
        |  CAST(COALESCE(c.caption_count, 0) AS BIGINT)
        |    AS caption_count,
        |  (n.nc IS NULL OR n.nc = '' OR c.caption_count > 3)
        |    AS is_boilerplate
        |FROM n LEFT JOIN c ON n.nc = c.nc
        |ORDER BY n.image_id""".stripMargin,

    // dims from the EXIF table, every round-trip verdict TRUE by the
    // involution algebra (the query fails here if any pixel moved)
    "q242_orient_materialize" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, w, h,
        |    CAST(((phash % 8) + 8) % 8 + 1 AS INTEGER) AS orientation
        |  FROM read_parquet('/tmp/graft_oracle_images_q242/*.parquet'))
        |SELECT id, orientation,
        |  CASE WHEN orientation >= 5 THEN h ELSE w END AS out_w,
        |  CASE WHEN orientation >= 5 THEN w ELSE h END AS out_h,
        |  true AS dims_ok, true AS exact
        |FROM base ORDER BY id""".stripMargin,

    // exact global rank replay; the phase is integer division so the
    // boundary rows land identically in both engines
    "q238_curriculum_schedule" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) - 1
        |      AS "rank",
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, n_chars, "rank",
        |  ("rank" * 4) // n AS phase
        |FROM r ORDER BY doc_id""".stripMargin,

    // milli-weight targets: (budget * w) // 1000 exact, ceil-epochs
    // by integer math, rep_factor from the same exact operands
    "q239_repetition_plan" ->
      """WITH w(lang, wm) AS (VALUES ('en', 500), ('de', 150),
        |  ('es', 150), ('fr', 100), ('zh', 100)),
        |t AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |j AS (SELECT t.lang, t.n_tokens,
        |    (CAST(200000 AS BIGINT) *
        |      CAST(COALESCE(w.wm, 0) AS BIGINT)) // 1000
        |      AS target_tokens
        |  FROM t LEFT JOIN w ON t.lang = w.lang
        |  WHERE t.n_tokens > 0)
        |SELECT lang, n_tokens, target_tokens,
        |  (target_tokens + n_tokens - 1) // n_tokens AS full_epochs,
        |  CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
        |    AS rep_factor
        |FROM j ORDER BY lang""".stripMargin,

    // exhaustive Hamming pairs + the same md5-60 split expression,
    // canonicalized least/greatest matrix
    "q240_split_leakage" ->
      """WITH base AS (SELECT image_id, phash
        |  FROM read_parquet('/tmp/graft_oracle_images_q240/*.parquet')),
        |t AS (SELECT * FROM base
        |      UNION ALL
        |      SELECT image_id || '_d', xor(phash, 257) FROM base
        |      WHERE CAST(substring(image_id, 5) AS BIGINT) % 10 = 0),
        |sp AS (SELECT image_id, CASE
        |    WHEN CAST('0x' || substring(md5(image_id || '#r5'), 1, 15)
        |      AS BIGINT) % 100 < 80 THEN 'train'
        |    WHEN CAST('0x' || substring(md5(image_id || '#r5'), 1, 15)
        |      AS BIGINT) % 100 < 90 THEN 'val'
        |    ELSE 'test' END AS split FROM t),
        |p AS (SELECT a.image_id AS id_a, b.image_id AS id_b
        |  FROM t a JOIN t b ON a.image_id < b.image_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |m AS (SELECT least(sa.split, sb.split) AS split_a,
        |    greatest(sa.split, sb.split) AS split_b
        |  FROM p JOIN sp sa ON p.id_a = sa.image_id
        |         JOIN sp sb ON p.id_b = sb.image_id)
        |SELECT split_a, split_b, count(*) AS n_pairs,
        |  split_a <> split_b AS cross_split
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the q212 epoch-3 hash order, 25-row batches, two-level group
    "q241_epoch_batch_stats" ->
      """WITH h AS (SELECT doc_id, source,
        |    ((((((doc_id % 2147483648) * 2654435761) % 4294967296)
        |        + 2445500261) % 4294967296 % 2147483648)
        |      * 2654435761) % 4294967296 AS eh
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (ORDER BY eh, doc_id) - 1 AS pos
        |  FROM h),
        |g AS (SELECT pos // 25 AS batch, source, count(*) AS c
        |  FROM r GROUP BY 1, 2)
        |SELECT batch, CAST(sum(c) AS BIGINT) AS members,
        |  count(*) AS n_strata, max(c) AS max_stratum_rows
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // same varied caption (phash-driven repeat), same whitespace
    // token count as q49, pad-to-8 buckets, per-bucket rank windows
    "q234_caption_pad_batches" ->
      """WITH base AS (SELECT image_id,
        |    CAST(len(string_split(trim(repeat(caption || ' ',
        |      CAST(1 + ((phash % 7) + 7) % 7 AS INTEGER))), ' '))
        |      AS BIGINT) AS tokens
        |  FROM read_parquet('/tmp/graft_oracle_images_q234/*.parquet')),
        |b AS (SELECT *, ((tokens + 7) // 8) * 8 AS bucket_len
        |  FROM base),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket_len
        |    ORDER BY image_id) - 1 AS rnk FROM b)
        |SELECT bucket_len, rnk // 16 AS batch_idx,
        |  count(*) AS n_rows,
        |  CAST(sum(tokens) AS BIGINT) AS tokens_sum,
        |  CAST(sum(bucket_len - tokens) AS BIGINT) AS pad_tokens
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the Latin-square shift: slot = per-cluster rank, shift =
    // cluster mod num_batches, num_batches = max(ceil(N/32),
    // largest cluster)
    "q235_contrastive_batches" ->
      """WITH base AS (SELECT image_id,
        |    ((phash % 97) + 97) % 97 AS cluster
        |  FROM read_parquet('/tmp/graft_oracle_images_q235/*.parquet')),
        |st AS (SELECT greatest(
        |    (CAST(sum(c) AS BIGINT) + 31) // 32, max(c)) AS nb
        |  FROM (SELECT count(*) AS c FROM base GROUP BY cluster)),
        |r AS (SELECT image_id, cluster,
        |    row_number() OVER (PARTITION BY cluster
        |      ORDER BY image_id) - 1 AS slot
        |  FROM base)
        |SELECT r.image_id, r.cluster, r.slot,
        |  (r.slot + r.cluster % st.nb) % st.nb AS batch
        |FROM r, st ORDER BY r.image_id""".stripMargin,

    // exact water-filling replay: ascending (n, source) walk, the
    // first row whose floor-share undercuts its own count fixes the
    // level; leftover bumps the biggest unsaturated sources by 1;
    // kept docs = per-source doc_id-ascending prefix of the quota
    "q236_source_quota" ->
      """WITH docs AS (
        |  SELECT doc_id, source FROM documents
        |  UNION ALL SELECT doc_id + 1000000, 'srcBIG'
        |    FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 2000000, 'srcBIG2'
        |    FROM documents WHERE doc_id % 2 = 0),
        |c AS (SELECT source, count(*) AS n FROM docs GROUP BY 1),
        |s AS (SELECT source, n,
        |    row_number() OVER (ORDER BY n, source) - 1 AS i,
        |    CAST(COALESCE(SUM(n) OVER (ORDER BY n, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb,
        |    count(*) OVER () AS m
        |  FROM c),
        |br AS (SELECT i AS jb, (601 - cb) // (m - i) AS lv,
        |    601 - (cb + (m - i) * ((601 - cb) // (m - i))) AS leftover
        |  FROM s WHERE (601 - cb) // (m - i) < n
        |  ORDER BY i LIMIT 1),
        |ranked AS (SELECT s.source, s.n, s.i, br.jb, br.lv,
        |    br.leftover,
        |    CASE WHEN br.jb IS NOT NULL AND s.i >= br.jb THEN
        |      row_number() OVER (ORDER BY
        |        CASE WHEN s.i >= COALESCE(br.jb, 9223372036854775807)
        |          THEN 0 ELSE 1 END, s.n DESC, s.source) END AS urnk
        |  FROM s LEFT JOIN br ON true),
        |quota AS (SELECT source,
        |    CASE WHEN jb IS NULL THEN n
        |      ELSE least(n, lv) +
        |        CASE WHEN urnk IS NOT NULL AND urnk <= leftover
        |          THEN 1 ELSE 0 END END AS q
        |  FROM ranked),
        |k AS (SELECT d.source, d.doc_id,
        |    row_number() OVER (PARTITION BY d.source
        |      ORDER BY d.doc_id) - 1 AS src_rank
        |  FROM docs d)
        |SELECT k.source, count(*) AS kept,
        |  CAST(sum(k.doc_id) AS BIGINT) AS kept_id_sum,
        |  max(k.src_rank) AS max_rank
        |FROM k JOIN quota q ON k.source = q.source
        |WHERE k.src_rank < q.q
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the published EXIF orientation table, flip-H-then-rotate-CW
    // decomposition; 5..8 swap output dims
    "q237_exif_normalize" ->
      """WITH base AS (SELECT image_id, w, h,
        |    CAST(((phash % 8) + 8) % 8 + 1 AS INTEGER) AS orientation
        |  FROM read_parquet('/tmp/graft_oracle_images_q237/*.parquet'))
        |SELECT image_id, w, h, orientation,
        |  orientation IN (2, 4, 5, 7) AS flip_h,
        |  CASE WHEN orientation IN (1, 2) THEN 0
        |       WHEN orientation IN (3, 4) THEN 180
        |       WHEN orientation IN (5, 6) THEN 90
        |       ELSE 270 END AS rot_cw,
        |  CASE WHEN orientation >= 5 THEN h ELSE w END AS out_w,
        |  CASE WHEN orientation >= 5 THEN w ELSE h END AS out_h
        |FROM base ORDER BY image_id""".stripMargin,

    // the maintained aggregate view must equal a direct groupBy over
    // all events (decimal sums -> bit-identical doubles)
    // whatever the incremental path absorbed, the derived streak
    // table must equal the full recompute: literally q289's SQL
    "q310_incremental_streaks" ->
      QueriesTemporal.oracles("q289_streak_stats"),

    // likewise: the maintained predictability view must equal the
    // full recompute — literally q333's SQL
    "q339_incremental_entropy" ->
      QueriesTemporal.oracles("q333_transition_entropy"),

    // likewise: the maintained profile matrix must equal the full
    // recompute — literally q363's composite SQL
    "q365_incremental_profile" ->
      QueriesTemporal.oracles("q363_behavior_profile"),

    // q272's literal-NTILE SQL re-keyed onto the orders table —
    // bucket-for-bucket agreement on a second table shape
    "q318_rfm_orders" ->
      """WITH base AS (SELECT o_custkey,
        |    MAX(epoch_us(o_orderdate)) AS last_us,
        |    CAST(COUNT(*) AS BIGINT) AS frequency,
        |    CAST(COALESCE(SUM(CAST(round(o_totalprice * 1e6)
        |      AS BIGINT)), 0) AS BIGINT) AS monetary_micros
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |  GROUP BY 1),
        |g AS (SELECT MAX(last_us) AS asof FROM base),
        |b AS (SELECT o_custkey, g.asof - last_us AS recency_us,
        |    frequency, monetary_micros FROM base, g),
        |sc AS (SELECT o_custkey, recency_us, frequency,
        |    monetary_micros,
        |  CAST(NTILE(5) OVER (ORDER BY recency_us DESC, o_custkey)
        |    AS INTEGER) AS r_score,
        |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey)
        |    AS INTEGER) AS f_score,
        |  CAST(NTILE(5) OVER (ORDER BY monetary_micros ASC,
        |    o_custkey) AS INTEGER) AS m_score FROM b)
        |SELECT o_custkey, recency_us, frequency, monetary_micros,
        |  r_score, f_score, m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER)
        |    AS rfm_score
        |FROM sc ORDER BY 1""".stripMargin,

    // identical distinct (source, token) sets (whitespace split
    // keeps empties on both engines), the same pair join and
    // Jaccard/containment divisions inside ROUND
    "q317_source_overlap" ->
      """WITH w AS (SELECT DISTINCT source AS k,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |  WHERE source IS NOT NULL AND text IS NOT NULL),
        |sz AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM w GROUP BY 1),
        |sh AS (SELECT a.k AS key_a, b.k AS key_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_shared
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.k < b.k
        |  GROUP BY 1, 2)
        |SELECT sh.key_a, sh.key_b, na.n AS n_a, nb.n AS n_b,
        |  n_shared,
        |  ROUND(CAST(n_shared AS DOUBLE)
        |    / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) AS jaccard,
        |  ROUND(CAST(n_shared AS DOUBLE)
        |    / CAST(least(na.n, nb.n) AS DOUBLE), 6) AS containment
        |FROM sh JOIN sz na ON sh.key_a = na.k
        |  JOIN sz nb ON sh.key_b = nb.k
        |ORDER BY 1, 2""".stripMargin,

    "q233_incremental_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  count(value) AS n_values,
        |  CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
        |    AS value_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // whatever the snapshot/maintenance path did, the derived table
    // must equal a direct latest-per-user query over all events
    // (latest = max (ts, event_id), the deterministic tie-break)
    // the diff verdicts are fully determined by the planting
    // predicates; a %7 bump of a NULL value is NOT an update (the
    // row is bit-identical at both snapshots)
    // the final evolved table from the planting predicates alone:
    // tier exists only where the upsert landed, NULL everywhere else
    "q252_schema_evolution" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 12 = 5 THEN value + 2
        |    ELSE value END AS value,
        |  CASE WHEN event_id % 12 = 5
        |    THEN 't' || CAST(event_id % 3 AS VARCHAR) END AS tier
        |FROM events ORDER BY 1""".stripMargin,

    // updates at %12==5 (every one of them: tier ALWAYS gains a value
    // even when 'value' is null), deletes at %9==4 (provably disjoint
    // from the upserts: 12a+5 ≡ 4 mod 9 has no solution), inserts at
    // the planted negative keys
    "q253_evolved_diff" ->
      """SELECT event_id, change_type FROM (
        |  SELECT event_id, 'update' AS change_type FROM events
        |    WHERE event_id % 12 = 5
        |  UNION ALL
        |  SELECT event_id, 'delete' FROM events WHERE event_id % 9 = 4
        |  UNION ALL
        |  SELECT -event_id - 1, 'insert' FROM events
        |    WHERE event_id % 50 = 1) t
        |ORDER BY event_id""".stripMargin,

    "q245_snapshot_diff" ->
      """SELECT event_id, change_type FROM (
        |  SELECT event_id,
        |    CASE
        |      WHEN event_id % 5 <> 0 AND event_id % 11 = 3
        |        THEN 'delete'
        |      WHEN event_id % 5 = 0 AND event_id % 11 <> 3
        |        THEN 'insert'
        |      WHEN event_id % 5 <> 0 AND event_id % 11 <> 3
        |        AND event_id % 7 = 0 AND value IS NOT NULL
        |        THEN 'update'
        |    END AS change_type
        |  FROM events) t
        |WHERE change_type IS NOT NULL ORDER BY event_id""".stripMargin,

    // survivors + bumped rows + fresh negative keys; %6==0 and %9==4
    // are disjoint (6k mod 9 cycles {0,6,3}, never 4) so no
    // delete/upsert overlap muddies the prediction
    "q250_merge_changes" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_id % 9 <> 4 AND event_id % 6 <> 0
        |  UNION ALL
        |  SELECT event_id, user_id, ts, value + 10 FROM events
        |  WHERE event_id % 6 = 0
        |  UNION ALL
        |  SELECT -event_id - 1, user_id, ts, value FROM events
        |  WHERE event_id % 10 = 7) t
        |ORDER BY event_id""".stripMargin,

    // per-step verdicts from the planting predicates: step 1 is the
    // q245 diff; step 2 deletes %13==1 keys from v2's membership
    // (%11<>3) and bumps every 19th value
    "q248_snapshot_changelog" ->
      """WITH s1 AS (SELECT event_id, 1 AS step,
        |    CASE
        |      WHEN event_id % 5 <> 0 AND event_id % 11 = 3
        |        THEN 'delete'
        |      WHEN event_id % 5 = 0 AND event_id % 11 <> 3
        |        THEN 'insert'
        |      WHEN event_id % 5 <> 0 AND event_id % 11 <> 3
        |        AND event_id % 7 = 0 AND value IS NOT NULL
        |        THEN 'update'
        |    END AS change_type
        |  FROM events),
        |s2 AS (SELECT event_id, 2 AS step,
        |    CASE
        |      WHEN event_id % 11 <> 3 AND event_id % 13 = 1
        |        THEN 'delete'
        |      WHEN event_id % 11 <> 3 AND event_id % 13 <> 1
        |        AND event_id % 19 = 0 AND value IS NOT NULL
        |        THEN 'update'
        |    END AS change_type
        |  FROM events)
        |SELECT event_id, change_type, step
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) t
        |WHERE change_type IS NOT NULL
        |ORDER BY step, event_id""".stripMargin,

    // the q247 alignment chain + the q87 np.interp grouped-quantile
    // idiom as the per-label threshold
    "q249_adaptive_alignment" ->
      """WITH b AS (SELECT vec_id, label, embedding,
        |    CASE WHEN vec_id % 13 = 0 THEN NULL
        |      ELSE list_concat(embedding[3:], embedding[1:2])
        |    END AS cap
        |  FROM embeddings),
        |q AS (SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qa,
        |    list_transform(cap, x ->
        |      CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qb
        |  FROM b),
        |d AS (SELECT vec_id, label,
        |    CASE WHEN qa IS NULL OR qb IS NULL
        |        OR len(qa) <> len(qb) OR len(qa) = 0 THEN NULL
        |      ELSE list_sum(list_transform(list_zip(qa, qb),
        |        x -> x[1] * x[2])) END AS dot,
        |    list_sum(list_transform(qa, x -> x * x)) AS na,
        |    list_sum(list_transform(qb, x -> x * x)) AS nb
        |  FROM q),
        |a AS (SELECT vec_id, label,
        |    CASE WHEN dot IS NULL OR na <= 0 OR nb <= 0 THEN NULL
        |      ELSE CAST(dot AS DOUBLE) /
        |        (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
        |    END AS alignment
        |  FROM d),
        |g AS (SELECT label, alignment AS v, COUNT(*) AS w FROM a
        |  WHERE alignment IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT label, v,
        |    SUM(w) OVER (PARTITION BY label ORDER BY v) * 1.0 /
        |      SUM(w) OVER (PARTITION BY label) AS f
        |  FROM g),
        |br AS (SELECT label,
        |    MAX(CASE WHEN f <= 0.25 THEN f END) AS flo,
        |    MAX(CASE WHEN f <= 0.25 THEN v END) AS vlo,
        |    MIN(CASE WHEN f >= 0.25 THEN f END) AS fhi,
        |    MIN(CASE WHEN f >= 0.25 THEN v END) AS vhi
        |  FROM c GROUP BY label),
        |thr AS (SELECT label,
        |    CASE WHEN flo IS NULL THEN vhi
        |      WHEN fhi IS NULL OR fhi = flo THEN vlo
        |      ELSE vlo + (0.25 - flo) / (fhi - flo) * (vhi - vlo)
        |    END AS threshold
        |  FROM br)
        |SELECT a.vec_id, ROUND(a.alignment, 6) AS alignment,
        |  ROUND(t.threshold, 6) AS threshold,
        |  COALESCE(a.alignment >= t.threshold, false) AS aligned
        |FROM a LEFT JOIN thr t ON a.label = t.label
        |ORDER BY a.vec_id""".stripMargin,

    // the same milli-unit quantization as the q44 oracle: integer
    // dot products, IEEE tail identical across engines
    "q247_alignment_gate" ->
      """WITH b AS (SELECT vec_id, embedding,
        |    CASE WHEN vec_id % 13 = 0 THEN NULL
        |      WHEN vec_id % 17 = 0
        |        THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
        |      ELSE list_concat(embedding[3:], embedding[1:2])
        |    END AS cap
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |    list_transform(embedding, x ->
        |      CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qa,
        |    list_transform(cap, x ->
        |      CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qb
        |  FROM b),
        |d AS (SELECT vec_id,
        |    CASE WHEN qa IS NULL OR qb IS NULL
        |        OR len(qa) <> len(qb) OR len(qa) = 0 THEN NULL
        |      ELSE list_sum(list_transform(list_zip(qa, qb),
        |        x -> x[1] * x[2])) END AS dot,
        |    list_sum(list_transform(qa, x -> x * x)) AS na,
        |    list_sum(list_transform(qb, x -> x * x)) AS nb
        |  FROM q),
        |a AS (SELECT vec_id,
        |    CASE WHEN dot IS NULL OR na <= 0 OR nb <= 0 THEN NULL
        |      ELSE CAST(dot AS DOUBLE) /
        |        (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
        |    END AS alignment
        |  FROM d)
        |SELECT vec_id, ROUND(alignment, 6) AS alignment,
        |  COALESCE(alignment >= 0.2, false) AS aligned
        |FROM a ORDER BY vec_id""".stripMargin,

    "q232_incremental_latest" ->
      """WITH r AS (SELECT user_id, event_id, ts, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, ts, value FROM r
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the written-then-reparsed shards must reproduce the layout's
    // own manifest exactly — per-shard stats from the q226 math, and
    // every audit flag true
    "q227_shard_write_audit" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM documents),
        |p AS (SELECT doc_id, n_chars, cum,
        |    cum // 100000 AS byte_shard,
        |    (row_number() OVER (PARTITION BY cum // 100000
        |      ORDER BY doc_id) - 1) // 25 AS shard_in_span
        |  FROM c)
        |SELECT byte_shard, shard_in_span,
        |  count(*) AS members,
        |  CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
        |  true AS members_match, true AS bytes_match, true AS fp_match
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // replay q215's layout, then per-shard min-subtraction for the
    // offsets and the same group agg + md5-60 xor fingerprint
    "q226_shard_manifest" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |    CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum
        |  FROM documents),
        |p AS (SELECT doc_id, n_chars, cum,
        |    cum // 100000 AS byte_shard,
        |    (row_number() OVER (PARTITION BY cum // 100000
        |      ORDER BY doc_id) - 1) // 25 AS shard_in_span
        |  FROM c),
        |m AS (SELECT byte_shard, shard_in_span,
        |    count(*) AS members,
        |    CAST(sum(n_chars) AS BIGINT) AS shard_bytes,
        |    min(cum) AS start_cum,
        |    bit_xor(CAST('0x' || substring(
        |      md5(doc_id || '#' || n_chars), 1, 15) AS BIGINT))
        |      AS content_fp
        |  FROM p GROUP BY 1, 2)
        |SELECT p.doc_id, p.byte_shard, p.shard_in_span,
        |  p.cum - m.start_cum AS member_offset,
        |  m.members, m.shard_bytes, m.content_fp
        |FROM p JOIN m USING (byte_shard, shard_in_span)
        |ORDER BY p.doc_id""".stripMargin,

    // epoch 2 term = (2 * 2246822519) mod 2^32 = 198677742; partner =
    // shuffle_pos XOR 1 self-join, odd tail keeps a null partner
    "q216_pair_partners" ->
      """WITH h AS (SELECT doc_id,
        |    ((((((doc_id % 2147483648) * 2654435761) % 4294967296)
        |        + 198677742) % 4294967296 % 2147483648)
        |      * 2654435761) % 4294967296 AS eh
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY eh, doc_id) - 1 AS shuffle_pos
        |  FROM h)
        |SELECT a.doc_id, a.shuffle_pos, a.shuffle_pos // 2 AS pair_id,
        |  b.doc_id AS partner_doc_id
        |FROM r a LEFT JOIN r b ON xor(a.shuffle_pos, 1) = b.shuffle_pos
        |ORDER BY a.doc_id""".stripMargin,

    // the flip bit and clamped window dims replay from the epoch-2
    // mix; exact=true for EVERY row is the involution proof (the
    // Spark side would emit false on any mirror/jitter/codec defect)
    "q224_augment_involution" ->
      """WITH i AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q224/*.parquet')),
        |m AS (SELECT id, w, h,
        |  ((((((id % 2147483648) * 2654435761) % 4294967296)
        |      + 198677742) % 4294967296 % 2147483648)
        |    * 2654435761) % 4294967296 AS mx
        |  FROM i)
        |SELECT id,
        |  ((((mx + 374761393) % 4294967296) % 2147483648)
        |    * 2654435761) % 4294967296 % 100 < 50 AS flip,
        |  CAST(least(14, w) AS INT) AS crop_w,
        |  CAST(least(10, h) AS INT) AS crop_h,
        |  true AS exact
        |FROM m ORDER BY id""".stripMargin,

    // the oracle recomputes the exhaustive Hamming closure (recursive
    // CTE components over all pairs <= 3) and the identical md5 split
    // rule — certifying both that banding found every pair and that
    // every cluster lands whole in one split
    "q223_image_safe_split" ->
      """WITH RECURSIVE base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, phash
        |  FROM read_parquet('/tmp/graft_oracle_images_q223/*.parquet')),
        |t AS (SELECT id, phash FROM base
        |  UNION ALL
        |  SELECT id + 1000000, xor(phash, 257) FROM base
        |    WHERE id % 10 = 0),
        |e AS (SELECT a.id AS ia, b.id AS ib
        |  FROM t a JOIN t b ON a.id < b.id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |u AS (SELECT ia AS a, ib AS b FROM e
        |      UNION SELECT ib, ia FROM e),
        |cc(id, comp) AS (
        |  SELECT a, a FROM u
        |  UNION
        |  SELECT u.a, cc.comp FROM u JOIN cc ON u.b = cc.id),
        |m AS (SELECT id, MIN(comp) AS comp FROM cc GROUP BY id),
        |k AS (SELECT t.id, COALESCE(m.comp, t.id) AS key
        |  FROM t LEFT JOIN m ON t.id = m.id)
        |SELECT id,
        |  CASE WHEN b < 80 THEN 'train'
        |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT id,
        |    CAST('0x' || substring(
        |      md5(CAST(key AS VARCHAR) || '#isplit'), 1, 15)
        |      AS BIGINT) % 100 AS b
        |  FROM k)
        |ORDER BY id""".stripMargin,

    // the oracle replays the two-round Knuth epoch mix (epoch=2 term
    // (2*2246822519) mod 2^32 = 198677742) plus one sub-stream round
    // per field (xxHash-prime salts), then the same clamp/mod draws
    "q221_augment_plan" ->
      """WITH i AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, w, h
        |  FROM read_parquet('/tmp/graft_oracle_images_q221/*.parquet')),
        |m AS (SELECT id, w, h,
        |  ((((((id % 2147483648) * 2654435761) % 4294967296)
        |      + 198677742) % 4294967296 % 2147483648)
        |    * 2654435761) % 4294967296 AS mx
        |  FROM i)
        |SELECT id, w, h,
        |  CAST(least(24, w) AS INT) AS crop_w,
        |  CAST(least(20, h) AS INT) AS crop_h,
        |  CAST(((((mx + 3266489917) % 4294967296) % 2147483648)
        |      * 2654435761) % 4294967296
        |    % (w - least(24, w) + 1) AS INT) AS crop_x,
        |  CAST(((((mx + 668265263) % 4294967296) % 2147483648)
        |      * 2654435761) % 4294967296
        |    % (h - least(20, h) + 1) AS INT) AS crop_y,
        |  ((((mx + 374761393) % 4294967296) % 2147483648)
        |    * 2654435761) % 4294967296 % 100 < 35 AS flip,
        |  CAST(((((mx + 2246822519) % 4294967296) % 2147483648)
        |      * 2654435761) % 4294967296 % 5 AS INT) AS jitter
        |FROM m ORDER BY id""".stripMargin,

    // decoded dims of every cropped payload are a pure metadata
    // function: the clamped plan window (epoch mix never moves the
    // dims), with decode_ok true for every real-codec row
    "q222_crop_materialize" ->
      """SELECT CAST(substring(image_id, 5) AS BIGINT) AS id,
        |  CAST(least(16, w) AS INT) AS w,
        |  CAST(least(12, h) AS INT) AS h,
        |  CAST(least(16, w) AS INT) AS decoded_w,
        |  CAST(least(12, h) AS INT) AS decoded_h,
        |  true AS decode_ok
        |FROM read_parquet('/tmp/graft_oracle_images_q222/*.parquet')
        |ORDER BY id""".stripMargin,

    // every batch image's verdict is an id-pattern function of the
    // stored corpus: copies and png 2x rematerializations match their
    // origin, fresh-seed renders match nothing
    "q220_ingest_verify_e2e" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, fmt
        |  FROM read_parquet('/tmp/graft_oracle_images_q220/*.parquet')),
        |b AS (
        |  SELECT id + 1000000 AS batch_id, id AS matched_id
        |    FROM base WHERE id % 10 = 0
        |  UNION ALL
        |  SELECT id + 2000000, id FROM base
        |    WHERE id % 10 = 5 AND fmt = 'png'
        |  UNION ALL
        |  SELECT 5000000 + range, CAST(NULL AS BIGINT) FROM range(40))
        |SELECT batch_id, matched_id FROM b ORDER BY 1""".stripMargin,

    // the q209 snap replay with the epoch-3 Knuth mix (q212's term
    // 2445500261) driving the per-rung rank
    "q219_epoch_ladder_batches" ->
      s"""WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id,
        |    CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h
        |  FROM read_parquet('/tmp/graft_oracle_images_q219/*.parquet')),
        |ladder(bucket_idx, bucket_w, bucket_h) AS (VALUES
        |  ${AspectLadder.zipWithIndex
          .map { case ((bw, bh), i) => s"($i, $bw, $bh)" }
          .mkString(", ")}),
        |scored AS (SELECT b.id, b.w, b.h, l.bucket_idx,
        |    CAST(abs(b.w * l.bucket_h - b.h * l.bucket_w) AS DOUBLE) /
        |      CAST(l.bucket_h AS DOUBLE) AS d
        |  FROM base b CROSS JOIN ladder l),
        |best AS (SELECT *, row_number() OVER (PARTITION BY id
        |    ORDER BY d, bucket_idx) AS rn FROM scored),
        |h AS (SELECT id, bucket_idx,
        |    ((((((id % 2147483648) * 2654435761) % 4294967296)
        |        + 2445500261) % 4294967296 % 2147483648)
        |      * 2654435761) % 4294967296 AS eh
        |  FROM best WHERE rn = 1),
        |ranked AS (SELECT id, bucket_idx,
        |    row_number() OVER (PARTITION BY bucket_idx
        |      ORDER BY eh, id) - 1 AS rank_in_bucket
        |  FROM h)
        |SELECT id, bucket_idx, rank_in_bucket,
        |  rank_in_bucket // 16 AS batch_idx
        |FROM ranked ORDER BY id""".stripMargin,

    // every verdict is an id-pattern function of the stored table:
    // 2x-materialized png twins normalize back to +Infinity (dims
    // honestly differing), relabeled copies are exact at equal dims
    "q217_resize_ladder_verify" ->
      """WITH base AS (SELECT
        |    CAST(substring(image_id, 5) AS BIGINT) AS id, fmt
        |  FROM read_parquet('/tmp/graft_oracle_images_q217/*.parquet')),
        |p AS (
        |  SELECT id AS id_a, id + 1000000 AS id_b, FALSE AS dims_match
        |    FROM base WHERE id % 10 = 0 AND fmt = 'png'
        |  UNION ALL
        |  SELECT id, id + 2000000, TRUE FROM base WHERE id % 10 = 5)
        |SELECT id_a, id_b, TRUE AS decode_ok, dims_match,
        |  TRUE AS exact, TRUE AS is_dup
        |FROM p ORDER BY 1, 2""".stripMargin,

    // the q62 pair recovery plus null-safe caption verdicts
    // (IS NOT DISTINCT FROM == Spark <=>)
    "q195_caption_consistency" ->
      """WITH base AS (SELECT image_id, phash, caption
        |  FROM read_parquet('/tmp/graft_oracle_images_q195/*.parquet')),
        |t AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT image_id || '_d', xor(phash, 257),
        |    CASE
        |      WHEN CAST(substring(image_id, 5) AS BIGINT) % 40 = 0
        |        THEN caption || ' v2'
        |      WHEN CAST(substring(image_id, 5) AS BIGINT) % 20 = 0
        |        THEN upper(caption)
        |      ELSE caption END
        |  FROM base
        |  WHERE CAST(substring(image_id, 5) AS BIGINT) % 10 = 0)
        |SELECT a.image_id AS id_a, b.image_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER)
        |    AS hamming,
        |  (a.caption IS NOT DISTINCT FROM b.caption) AS caption_equal,
        |  (lower(trim(a.caption)) IS NOT DISTINCT FROM
        |    lower(trim(b.caption))) AS caption_equal_norm
        |FROM t a JOIN t b ON a.image_id < b.image_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    // StubDecoder spec: md5 over the UPPERCASE hex of the first 256
    // payload bytes, first 4 digest bytes as big-endian int, % 256000
    // / 1000.0 (see Multimodal.StubDecoder scaladoc)
    "q52_multimodal_decode" ->
      """SELECT image_id,
        |  w AS decoded_w, h AS decoded_h,
        |  CAST('0x' || substring(
        |      md5(substring(hex(bytes), 1, 512)), 1, 8) AS BIGINT)
        |    % 256000 / 1000.0 AS mean_luma,
        |  octet_length(bytes) > 0 AS decode_ok
        |FROM read_parquet('/tmp/graft_oracle_images_q52/*.parquet')
        |ORDER BY 1""".stripMargin,

    // gram hash = md5 folded to 60 bits over the space-joined 8-token
    // window; duplicated = count >= 2 corpus-wide; islands merge when
    // the next start is within n tokens of the previous
    "q126_ngram_span_dedup" ->
      s"""WITH t AS ($docsWithDupsSql),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
         |grams AS (SELECT doc_id,
         |    unnest(range(0, len(ts) - 7)) AS pos,
         |    unnest(list_transform(range(0, len(ts) - 7),
         |      i -> CAST('0x' || substring(
         |        md5(array_to_string(ts[i+1:i+8], ' ')), 1, 15)
         |        AS BIGINT))) AS g
         |  FROM tok),
         |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
         |st AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
         |brk AS (SELECT doc_id, pos,
         |    CASE WHEN pos - lag(pos) OVER
         |        (PARTITION BY doc_id ORDER BY pos) <= 8
         |      THEN 0 ELSE 1 END AS b
         |  FROM st),
         |isl AS (SELECT doc_id, pos, SUM(b) OVER
         |    (PARTITION BY doc_id ORDER BY pos
         |     ROWS UNBOUNDED PRECEDING) AS isl
         |  FROM brk)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end
         |FROM isl GROUP BY doc_id, isl
         |ORDER BY 1, 2""".stripMargin,

    "q127_span_dedup_clean" ->
      s"""WITH t AS ($docsWithDupsSql),
         |tok0 AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
         |toks AS (SELECT doc_id, unnest(range(0, len(ts))) AS pos,
         |    unnest(ts) AS tk FROM tok0),
         |grams AS (SELECT doc_id,
         |    unnest(range(0, len(ts) - 7)) AS pos,
         |    unnest(list_transform(range(0, len(ts) - 7),
         |      i -> CAST('0x' || substring(
         |        md5(array_to_string(ts[i+1:i+8], ' ')), 1, 15)
         |        AS BIGINT))) AS g
         |  FROM tok0),
         |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
         |st AS (SELECT doc_id, pos FROM grams JOIN dup USING (g)),
         |cov AS (SELECT DISTINCT doc_id, pos + off AS pos
         |  FROM st, (SELECT unnest(range(0, 8)) AS off) o),
         |kept AS (SELECT k.doc_id, count(*) AS nk,
         |    array_to_string(list(tk ORDER BY pos), ' ') AS ct
         |  FROM toks k ANTI JOIN cov c
         |    ON k.doc_id = c.doc_id AND k.pos = c.pos
         |  GROUP BY k.doc_id)
         |SELECT t2.doc_id,
         |  CAST(len(ts) - COALESCE(nk, 0) AS BIGINT)
         |    AS n_tokens_removed,
         |  COALESCE(ct, '') AS clean_text
         |FROM tok0 t2 LEFT JOIN kept USING (doc_id)
         |ORDER BY 1""".stripMargin,

    // same 4x512 counter matrix + min-over-rows readout; est can only
    // over-count, so ORDER BY est DESC, token is deterministic
    "q128_cms_heavy_hitters" -> cmsTop25Sql,
    "q150_hll_distinct" -> hllDistinctSql,

    // the q157 per-key replay over (user, day) keys and JSON items
    "q162_rolling_distinct" -> {
      val alpha = graft.core.Hll.alphaM(512L)
      s"""WITH ev AS (SELECT CAST(user_id AS VARCHAR) || '|' ||
        |    strftime(ts, '%Y-%m-%d') AS key,
        |    json_extract_string(props, '$$.k') AS item
        |  FROM events),
        |h AS (SELECT key, CAST('0x' || substring(md5(item), 1, 15)
        |    AS BIGINT) AS h FROM ev WHERE item IS NOT NULL),
        |rr AS (SELECT key, CAST(h % 512 AS INTEGER) AS reg,
        |    LEAST(CASE WHEN (h >> 9) = 0 THEN 52
        |      ELSE 51 - length(bin(h >> 9)) + 1 END, 40) AS rho
        |  FROM h),
        |regs AS (SELECT key, reg, MAX(rho) AS rho FROM rr
        |  GROUP BY key, reg),
        |a AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n_present,
        |    CAST(SUM(1::BIGINT << (40 - rho)) AS BIGINT) AS s_present
        |  FROM regs GROUP BY key),
        |st AS (SELECT key, n_present,
        |    s_present + (512 - n_present) * (1::BIGINT << 40)
        |      AS s_micro
        |  FROM a),
        |e AS (SELECT key, n_present, s_micro,
        |    CAST('$alpha' AS DOUBLE) * CAST(512 AS DOUBLE)
        |      * CAST(512 AS DOUBLE)
        |      / (CAST(s_micro AS DOUBLE)
        |         / CAST(1::BIGINT << 40 AS DOUBLE)) AS e_raw
        |  FROM st),
        |tc AS (SELECT key, CAST(COUNT(DISTINCT item) AS BIGINT)
        |    AS n_true FROM ev WHERE item IS NOT NULL GROUP BY key)
        |SELECT e.key, n_present,
        |  ROUND(CASE WHEN e_raw <= CAST(1280 AS DOUBLE)
        |      AND (512 - n_present) > 0
        |    THEN CAST(512 AS DOUBLE)
        |      * ln(CAST(512 AS DOUBLE)
        |        / CAST(512 - n_present AS DOUBLE))
        |    ELSE e_raw END, 4) AS estimate, tc.n_true
        |FROM e JOIN tc USING (key)
        |ORDER BY 1""".stripMargin
    },

    // per-source replay of the q150 register + readout rule
    "q157_hll_by_source" -> {
      val alpha = graft.core.Hll.alphaM(512L)
      s"""WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |h AS (SELECT source, CAST('0x' || substring(md5(token), 1, 15)
        |    AS BIGINT) AS h FROM tok),
        |rr AS (SELECT source, CAST(h % 512 AS INTEGER) AS reg,
        |    LEAST(CASE WHEN (h >> 9) = 0 THEN 52
        |      ELSE 51 - length(bin(h >> 9)) + 1 END, 40) AS rho
        |  FROM h),
        |regs AS (SELECT source, reg, MAX(rho) AS rho FROM rr
        |  GROUP BY source, reg),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_present,
        |    CAST(SUM(1::BIGINT << (40 - rho)) AS BIGINT) AS s_present
        |  FROM regs GROUP BY source),
        |st AS (SELECT source, n_present,
        |    s_present + (512 - n_present) * (1::BIGINT << 40)
        |      AS s_micro
        |  FROM a),
        |e AS (SELECT source, n_present, s_micro,
        |    CAST('$alpha' AS DOUBLE) * CAST(512 AS DOUBLE)
        |      * CAST(512 AS DOUBLE)
        |      / (CAST(s_micro AS DOUBLE)
        |         / CAST(1::BIGINT << 40 AS DOUBLE)) AS e_raw
        |  FROM st),
        |tc AS (SELECT source, CAST(COUNT(DISTINCT token) AS BIGINT)
        |    AS n_true FROM tok GROUP BY source)
        |SELECT e.source, n_present, s_micro,
        |  ROUND(CASE WHEN e_raw <= CAST(1280 AS DOUBLE)
        |      AND (512 - n_present) > 0
        |    THEN CAST(512 AS DOUBLE)
        |      * ln(CAST(512 AS DOUBLE)
        |        / CAST(512 - n_present AS DOUBLE))
        |    ELSE e_raw END, 4) AS estimate, tc.n_true
        |FROM e JOIN tc USING (source)
        |ORDER BY 1""".stripMargin
    },

    "q129_dataset_split" ->
      """SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train'
        |       WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |    CAST('0x' || substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#r3'), 1, 15)
        |      AS BIGINT) % 100 AS b
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // same injected-PII corpus; STAGED counting (each pattern counted
    // on the previous stage's replaced text, so n_redactions ==
    // placeholders inserted even for nested matches), replacement
    // order email -> ip -> phone, 'g' = replace-all (Spark's default)
    "q131_pii_scrub" -> {
      val email = TextOps.EmailPattern
      val phone = TextOps.PhonePattern
      val ip = TextOps.Ipv4Pattern
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN text || ' contact ' ||
         |    printf('user%d@example.com', doc_id) || ' or ' ||
         |    printf('555-867-%04d', doc_id % 10000) || ' at ' ||
         |    printf('10.0.%d.%d', doc_id % 256, doc_id % 100)
         |  ELSE text END AS text FROM documents),
         |s1 AS (SELECT doc_id, text,
         |    regexp_replace(text, '$email', '<EMAIL>', 'g') AS t1
         |  FROM t),
         |s2 AS (SELECT doc_id, text, t1,
         |    regexp_replace(t1, '$ip', '<IP>', 'g') AS t2
         |  FROM s1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email'))
         |    + len(regexp_extract_all(t1, '$ip'))
         |    + len(regexp_extract_all(t2, '$phone')) AS BIGINT)
         |    AS n_redactions,
         |  regexp_replace(t2, '$phone', '<PHONE>', 'g') AS clean_text
         |FROM s2 ORDER BY doc_id""".stripMargin
    },

    // identical IEEE steps: share and budget forced to DOUBLE (DuckDB
    // decimal literals would otherwise divide differently), keep rule
    // mixHash(id) < floor(min(1, budget*share/tokens) * 2^32)
    "q132_mixture_sample" ->
      """WITH tot AS (SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS tok
        |  FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |sh AS (SELECT lang, tok,
        |    CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.3
        |      WHEN 'zh' THEN 0.2 END AS DOUBLE) AS share
        |  FROM tot)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN sh ON d.lang = sh.lang
        |WHERE share IS NOT NULL AND
        |  ((d.doc_id % 2147483648) * 2654435761) % 4294967296 <
        |  floor(least(CAST(1.0 AS DOUBLE),
        |    CAST(30000 AS DOUBLE) * share / CAST(tok AS DOUBLE))
        |    * CAST(4294967296 AS DOUBLE))
        |ORDER BY d.doc_id""".stripMargin,

    // the q156 fit replayed as the PLAN table (same ordered fold,
    // same 12dp share round, same floor threshold)
    "q161_mixture_plan" ->
      """WITH tot AS (SELECT lang AS st, CAST(SUM(n_chars) AS BIGINT)
        |    AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))
        |      ORDER BY st)),
        |    (a, x) -> a + x) AS z FROM tot),
        |sh AS (SELECT st, n,
        |    ROUND(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))
        |      / (SELECT z FROM z), 12) AS share
        |  FROM tot),
        |r AS (SELECT st, n, share,
        |    LEAST(CAST(1 AS DOUBLE),
        |      CAST(30000 AS DOUBLE) * share / CAST(n AS DOUBLE))
        |      AS rate
        |  FROM sh)
        |SELECT st AS lang, n AS n_tokens,
        |  ROUND(share, 12) AS share,
        |  ROUND(rate, 6) AS keep_rate,
        |  ROUND(rate * n, 4) AS expected_tokens,
        |  CAST(FLOOR(rate * CAST(4294967296 AS DOUBLE)) AS BIGINT)
        |    AS hash_threshold
        |FROM r ORDER BY 1""".stripMargin,

    // the identical ordered fold: list(...ORDER BY lang) through the
    // left-fold list_reduce == the driver's ascending-stratum sum;
    // 12dp share round before the floor matches the operator
    "q156_temperature_mixture" ->
      """WITH tot AS (SELECT lang AS st, CAST(SUM(n_chars) AS BIGINT)
        |    AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |z AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))
        |      ORDER BY st)),
        |    (a, x) -> a + x) AS z FROM tot),
        |th AS (SELECT st,
        |    FLOOR(LEAST(CAST(1 AS DOUBLE),
        |      CAST(30000 AS DOUBLE) *
        |      ROUND(pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE))
        |        / (SELECT z FROM z), 12)
        |      / CAST(n AS DOUBLE)) * CAST(4294967296 AS DOUBLE)) AS thr
        |  FROM tot)
        |SELECT d.doc_id, d.lang, d.n_chars
        |FROM documents d JOIN th ON d.lang = th.st
        |WHERE ((d.doc_id % 2147483648) * 2654435761) % 4294967296 < thr
        |ORDER BY d.doc_id""".stripMargin,

    // same gram/count rules as q126; integer counts, exact division,
    // rounded 6dp like every ratio oracle
    "q139_duplication_ratio" ->
      s"""WITH t AS ($docsWithDupsSql),
         |tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM t),
         |grams AS (SELECT doc_id,
         |    unnest(range(0, len(ts) - 7)) AS pos,
         |    unnest(list_transform(range(0, len(ts) - 7),
         |      i -> CAST('0x' || substring(
         |        md5(array_to_string(ts[i+1:i+8], ' ')), 1, 15)
         |        AS BIGINT))) AS g
         |  FROM tok),
         |dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_windows
         |  FROM grams GROUP BY doc_id),
         |dc AS (SELECT doc_id, count(*) AS n_dup
         |  FROM grams JOIN dup USING (g) GROUP BY doc_id)
         |SELECT t2.doc_id, t2.n_windows,
         |  COALESCE(dc.n_dup, 0) AS n_dup_windows,
         |  ROUND(COALESCE(dc.n_dup, 0) * 1.0 / t2.n_windows, 6)
         |    AS dup_ratio
         |FROM tot t2 LEFT JOIN dc USING (doc_id)
         |ORDER BY 1""".stripMargin,

    // per-source regrouping of the q48 quality rule + q47 langId
    // chain + the corpusReport dup-rate rule; float means rounded 6dp
    // (aggregation-order ulp drift)
    "q138_source_report" -> {
      val maxExpr = TextOps.Langs.map(langHitsSql)
        .mkString("GREATEST(", ", ", ")")
      val chain = TextOps.Langs.reverse.foldLeft("'unknown'") {
        (acc, l) =>
          s"CASE WHEN ${langHitsSql(l)} = m AND m > 0 " +
            s"THEN '$l' ELSE $acc END"
      }
      val stopsAll = TextOps.Langs.map(langHitsSql).mkString(" + ")
      s"""WITH t AS (SELECT source, lang, text, $maxExpr AS m,
         |  CAST(len(text) AS DOUBLE) AS nc,
         |  CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))
         |       AS DOUBLE) AS punct,
         |  CAST($stopsAll AS DOUBLE) AS stops
         |  FROM documents),
         |q AS (SELECT source, lang, text, $chain AS lang_pred,
         |  0.4 * LEAST(nc / 500.0, 1.0) +
         |  0.3 * LEAST((stops / nt) * 5.0, 1.0) +
         |  0.2 * LEAST(((nc - (nt - 1.0)) / nt) / 8.0, 1.0) +
         |  0.1 * (1.0 - LEAST((punct / nc) * 10.0, 1.0)) AS quality,
         |  CAST(nt AS BIGINT) AS ntok
         |  FROM t)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
         |  ROUND(1 - count(DISTINCT md5(text)) * 1.0 / count(text), 6)
         |    AS dup_rate,
         |  ROUND(AVG(quality), 6) AS mean_quality,
         |  ROUND(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
         |    * 1.0 / count(*), 6) AS lang_agreement
         |FROM q GROUP BY source ORDER BY source""".stripMargin
    },

    // twins known by construction, same contract as q124
    "q136_dhash_transcode" ->
      """SELECT printf('img_%010d', i) AS image_id,
        |  TRUE AS hash_invariant
        |FROM range(0, 150) t(i) WHERE i % 10 = 0
        |ORDER BY 1""".stripMargin,

    // the flattened ids are known by construction; everything else
    // must pass the gate (pseudo-random renders have std_luma >> 2)
    "q135_flat_image_gate" ->
      """SELECT printf('img_%010d', i) AS image_id
        |FROM range(0, 300) t(i) WHERE i % 20 = 0
        |ORDER BY 1""".stripMargin,

    // identical integer micro-unit scoring: add-1-smoothed hashed-
    // unigram log-ratios snapped to round(x*1e6) BIGINT (per-doc sums
    // are then exact integer sums in any engine), Gumbel term from the
    // same md5-derived u, rank = row_number over (key desc, doc_id)
    "q134_dsir_sample" ->
      """WITH tgt AS (SELECT text FROM documents WHERE source = 'src0'),
        |ttok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM tgt),
        |tb AS (SELECT CAST(CAST('0x' || substring(md5(tok), 1, 15)
        |      AS BIGINT) % 256 AS INTEGER) AS b, count(*) AS tn
        |  FROM ttok GROUP BY 1),
        |stok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sb AS (SELECT CAST(CAST('0x' || substring(md5(tok), 1, 15)
        |      AS BIGINT) % 256 AS INTEGER) AS b, count(*) AS sn
        |  FROM stok GROUP BY 1),
        |tot AS (SELECT (SELECT count(*) FROM ttok) AS T,
        |    (SELECT count(*) FROM stok) AS S),
        |ratio AS (SELECT r.b,
        |    CAST(round((ln((COALESCE(tn, 0) + 1) /
        |        CAST(T + 256 AS DOUBLE)) -
        |      ln((COALESCE(sn, 0) + 1) /
        |        CAST(S + 256 AS DOUBLE))) * 1e6) AS BIGINT) AS lr
        |  FROM range(0, 256) r(b)
        |  LEFT JOIN tb ON r.b = tb.b
        |  LEFT JOIN sb ON r.b = sb.b, tot),
        |dsc AS (SELECT doc_id, CAST(SUM(lr) AS BIGINT) AS score_micro
        |  FROM (SELECT doc_id, CAST(CAST('0x' ||
        |        substring(md5(tok), 1, 15) AS BIGINT) % 256
        |        AS INTEGER) AS b
        |    FROM (SELECT doc_id, unnest(string_split(text, ' '))
        |        AS tok FROM documents)) x
        |  JOIN ratio ON x.b = ratio.b GROUP BY doc_id),
        |ky AS (SELECT doc_id, score_micro,
        |    score_micro + CAST(round(-ln(-ln(
        |      (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
        |        || '#dsir'), 1, 15) AS BIGINT) + 1)
        |      / 1152921504606846976.0)) * 1e6) AS BIGINT) AS key
        |  FROM dsc),
        |r AS (SELECT doc_id, score_micro, row_number() OVER
        |    (ORDER BY key DESC, doc_id) AS rank FROM ky)
        |SELECT CAST(rank AS INTEGER) AS rank, doc_id, score_micro
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // same deterministic A-ES keys (u exact in both engines; ln is the
    // one libm step — keys rounded to 9dp before ranking so a 1-ulp
    // disagreement cannot flip an order except at a measure-zero
    // rounding boundary), ranked by the window the aggregate replaces
    "q130_weighted_sample" -> weightedSampleSql
  )
}
