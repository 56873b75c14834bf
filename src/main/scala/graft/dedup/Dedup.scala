package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Checkpoints.TruncateOps

/** Document deduplication for training-data pipelines: exact,
  * n-gram-Jaccard (the exact baseline), MinHash+LSH (the 100 TB path),
  * and SimHash.
  *
  * Scale design: exact dedup is one hash-shuffle with map-side partial
  * aggregation. The Jaccard self-join is quadratic in bucket size and is
  * kept only as the small-scale oracle baseline; MinHash+LSH bounds
  * comparisons to same-band collisions (tunable precision/recall via
  * (numHashes, bands)), and every stage is a pure column expression —
  * no UDFs, full codegen. Hot shingles (stopword-like) are capped via a
  * frequency filter before the self-join, the standard skew guard.
  */
object Dedup {

  /** Canonical text normalization shared by ALL dedup flavors — defined
    * as the rejoined token sequence of [[tokens]], so `exact()` groups,
    * shingle sets, and fingerprints share ONE tokenization (an exact
    * group always has identical shingles — the invariant minhashPairs'
    * representative expansion relies on).
    */
  def normalized(text: Column): Column =
    array_join(graft.functions.Tokenize.wsTokens(text), " ")

  /** Exact dedup: groups of identical normalized text; representative =
    * least doc_id. Emits (doc_id, rep_id, group_size).
    */
  def exact(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("__h"))
    docs.select(col("doc_id"), md5(normalized(col("text"))).as("__h"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("rep_id"), col("group_size"))
  }

  /** Tokens of the normalized text — same token sequence as
    * `split(normalized, ' ')` but via the codegen tokenizer (no regex
    * engine on the hot path; see [[graft.functions.Tokenize]]).
    */
  private def tokens(text: Column): Column =
    graft.functions.Tokenize.wsTokens(text)

  /** Word n-gram shingles of the normalized text, distinct per doc.
    * Documents shorter than n tokens yield NO shingles (standard w-shingle
    * semantics; keeps parity with the SQL oracle's index join). Shingle
    * arrays build incrementally with zip_with+concat (one concat per
    * element) in their own Project; the generator explodes a plain
    * attribute (see Gazetteer.ngramSpans for the why).
    */
  def shingles(docs: DataFrame, n: Int): DataFrame = {
    val t = col("__toks")
    val sh = (2 to n).foldLeft(t) { (prev, l) =>
      zip_with(prev,
        slice(t, lit(l), greatest(size(t) - (l - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .withColumn("__sh", sh)
      .select(col("doc_id"), explode_outer(col("__sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .distinct()
  }

  /** Hashed word n-gram shingles — the MinHash-path twin of [[shingles]]:
    * each n-token window hashes DIRECTLY to one 64-bit key via the
    * codegen [[graft.functions.ShingleHashes]] expression, skipping the
    * per-shingle string concatenation that made the string path
    * allocation-bound (round-5 measured the 2→8 dedup scaling at 0.73,
    * attributed to the shingle-build stage hitting the memory-bus
    * ceiling). Same (doc, window)-set semantics modulo 2^-64 hash
    * collisions — TrainingSpec asserts pair-set AND jaccard-value parity
    * against the string-shingle baseline — and the downstream
    * signature/verify joins ride 8-byte keys instead of strings.
    */
  def hashedShingles(docs: DataFrame, n: Int): DataFrame =
    // per-row distinct INSIDE the codegen expression (sort+compact over
    // primitive longs): cross-row duplicates of (doc_id, shingle) cannot
    // exist — doc_id IS the row — so this replaces what was a full
    // global `.distinct()` EXCHANGE over the largest intermediate of the
    // minhash pipeline with zero shuffles.
    // PRECONDITION (review r10): doc_id must be unique per row — the
    // dedup contract everywhere in this module (exact()'s groups, the
    // pair algebra and the oracle all treat doc_id as the document key;
    // a corpus with duplicate doc_id rows is malformed input, and the
    // removed global distinct only ever masked it for THIS stage)
    docs.select(col("doc_id"),
        graft.functions.ShingleHashes.distinct(tokens(col("text")), n).as("__sh"))
      .select(col("doc_id"), explode(col("__sh")).as("shingle"))

  /** Exact n-gram Jaccard near-dup pairs (a < b), similarity ≥ threshold.
    * Self-join on shared shingles. `maxShingleFreq` (default: no cap) is
    * the explicit skew guard for template-heavy corpora — a shingle shared
    * by f docs contributes f² join rows; capping trades a bounded
    * underestimate of `common` for bounded work. Left OFF for the exact
    * baseline so the metric (and the SQL oracle) is internally consistent.
    */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      maxShingleFreq: Long = Long.MaxValue): DataFrame = {
    val sh = shingles(docs, n)
    val rare = if (maxShingleFreq == Long.MaxValue) sh
      else sh.withColumn("__f",
          count(lit(1)).over(Window.partitionBy(col("shingle"))))
        .filter(col("__f") <= maxShingleFreq).drop("__f")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = rare.as("x").join(rare.as("y"),
        col("x.shingle") === col("y.shingle") &&
        col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions,
    * min over the doc's shingles of xxhash64(seed, shingle). Pure column
    * expressions — one aggregation, no UDF.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes)
      .map(i => min(xxhash64(lit(i), col("shingle"))).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** (doc_id, band, key) LSH band buckets of a MinHash signature table:
    * each band of `rowsPerBand` signature slots hashes to one bucket key;
    * ids colliding in ANY band are near-dup candidates.
    */
  def lshBuckets(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must divide into bands")
    val bands = numHashes / rowsPerBand
    val bandKeys = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh_${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("key"))
    }
    sig.select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Opt-in bucket-size cap shared by the LSH blocking paths (minhash
    * bands, embedding hyperplane tables): window-count rows per bucket
    * key, LOG any drop (silent truncation would read as full coverage —
    * the probe aggregate is one extra job, only when capped), keep rows
    * whose bucket is within the cap.
    */
  private def capBuckets(df: DataFrame, keys: Seq[org.apache.spark.sql.Column],
      cap: Long, what: String): DataFrame =
    if (cap == Long.MaxValue) df
    else {
      val sized = df.withColumn("__bs",
        count(lit(1)).over(Window.partitionBy(keys: _*)))
      val d = sized.filter(col("__bs") > cap)
        .agg(count(lit(1)), countDistinct(struct(keys: _*))).head
      if (d.getLong(0) > 0)
        System.err.println(s"[dedup] $what bucket cap $cap: " +
          s"dropped ${d.getLong(0)} entries in ${d.getLong(1)} oversized " +
          "buckets (bounded recall loss)")
      sized.filter(col("__bs") <= cap).drop("__bs")
    }

  /** MinHash+LSH near-dup pairs verified with exact Jaccard.
    *
    * Duplicate-heavy corpora are the norm, and identical docs collide in
    * EVERY band — naive LSH turns f exact copies into f²/2 candidate
    * pairs. Guards, in order:
    *   1. exact-dedup first: LSH runs over one REPRESENTATIVE per
    *      identical-text group; rep-level pairs are expanded back to
    *      member pairs at the end (identical docs have identical shingle
    *      sets, so every member pair inherits the rep pair's Jaccard
    *      exactly — the output is unchanged, only the quadratic candidate
    *      generation + verification work disappears).
    *   2. `maxBucketSize` caps any residual pathological band bucket
    *      (bounded work at the price of a bounded recall loss; OFF by
    *      default = Long.MaxValue so small-scale results stay exact).
    *
    * Shingles are localCheckpoint'ed (lazy): materialized once, reused by
    * the signature/verify stages, and the blocks are released by the
    * ContextCleaner when the result goes out of scope — no cache leak
    * across repeated calls.
    */
  def minhashPairs(docs: DataFrame, n: Int, threshold: Double,
      numHashes: Int = 32, rowsPerBand: Int = 4,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    // (doc_id, rep_id, group_size) — referenced by FOUR downstream
    // subtrees (rep filter, two member expansions, the intra self-join);
    // without the lineage cut the md5+window+scan pipeline re-executes
    // for each of them (the r10 before-plan shows 4 copies of the
    // exact() subtree). Metadata-scale rows (3 narrow cols per doc).
    val ex = exact(docs).truncateLineage(false)
    val reps = docs.join(
      ex.filter(col("doc_id") === col("rep_id")).select("doc_id"), "doc_id")
    val sh = hashedShingles(reps, n).truncateLineage(false)
    val sig = minhashSignatures(sh, numHashes)
    val buckets0 = lshBuckets(sig, numHashes, rowsPerBand)
    val buckets = capBuckets(buckets0,
      Seq(col("band"), col("key")), maxBucketSize, "minhash")
    val candidates = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // verify candidates with exact Jaccard (precision 1.0)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = candidates
      .join(sh.withColumnRenamed("doc_id", "a"), "a")
      .join(sh.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("shingle", "sh_b"), "b")
      .filter(col("shingle") === col("sh_b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    val repPairs = common
      .join(sizes.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("n_sh", "na"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("n_sh", "nb"), "b")
      .withColumn("jaccard",
        round(col("common") / (col("na") + col("nb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))

    // expand rep-level pairs back to member pairs (pure join expansion —
    // no shingle work): cross-group pairs inherit the verified Jaccard;
    // intra-group pairs are exact duplicates (Jaccard 1), emitted only
    // for groups whose representative actually has shingles (docs shorter
    // than n tokens have no shingle set, hence no Jaccard — parity with
    // the unexpanded path).
    val members = ex.select(col("rep_id"), col("doc_id"))
    val cross = repPairs
      .join(members.withColumnRenamed("rep_id", "a")
        .withColumnRenamed("doc_id", "ma"), "a")
      .join(members.withColumnRenamed("rep_id", "b")
        .withColumnRenamed("doc_id", "mb"), "b")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"), col("jaccard"))
    val intra = if (threshold > 1.0) cross.limit(0) else {
      // `sizes` is already one row per doc_id with ≥1 shingle — reuse it
      // instead of a second distinct aggregation over the shingle table
      val shDocs = sizes.select(col("doc_id").as("__srep"))
      val m = ex.filter(col("group_size") > 1)
        .select(col("rep_id").as("rep"), col("doc_id"))
      m.as("x").join(m.as("y"),
          col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
        .join(shDocs, col("x.rep") === col("__srep"), "left_semi")
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          lit(1.0d).as("jaccard"))
    }
    cross.unionAll(intra)
  }

  /** Embedding-cosine near-duplicate pairs, EXACT all-pairs baseline:
    * every (a < b) with cosine ≥ threshold. Quadratic by design — the
    * small-scale oracle twin of [[embeddingPairsLsh]], like
    * [[jaccardPairs]] is for [[minhashPairs]].
    */
  def embeddingPairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    import graft.embed.Similarity.cosine
    val v = transform(col("embedding"), x => x.cast("double"))
    val base = embeddings.select(col("vec_id"), v.as("v"))
    base.as("x").join(base.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(cosine(col("x.v"), col("y.v")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Embedding-cosine near-dup pairs at scale: multi-table hyperplane-LSH
    * blocking (same-bucket-in-any-table candidates, an equi-join — never
    * all-pairs) verified with exact cosine. Precision 1.0 w.r.t. the
    * threshold; recall = the band-OR collision probability (high in the
    * near-duplicate regime this targets — TrainingSpec measures it vs
    * [[embeddingPairs]]).
    */
  /** `maxBucketSize` caps any pathological hyperplane bucket (a
    * low-entropy corpus — many identical/zero vectors sharing one
    * signature — otherwise goes quadratic silently; VERDICT r9 finding).
    * Opt-in like [[minhashPairs]]'s cap: OFF by default so small-scale
    * results stay exact, and every drop is LOGGED.
    */
  def embeddingPairsLsh(embeddings: DataFrame, threshold: Double,
      nPlanes: Int = 8, tables: Int = 4,
      maxBucketSize: Long = Long.MaxValue): DataFrame = {
    import graft.embed.Similarity.{cosine, lshSignature}
    val v = transform(col("embedding"), x => x.cast("double"))
    val base = embeddings.select(col("vec_id"), v.as("v"))
    val bucketed0 = base.withColumn("tb",
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), lshSignature(col("v"), nPlanes, t).as("b"))): _*)))
    val bucketed = capBuckets(bucketed0, Seq(col("tb")), maxBucketSize,
      "embedding LSH")
    bucketed.as("x").join(bucketed.as("y"),
        col("x.tb") === col("y.tb") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        round(cosine(col("x.v"), col("y.v")), 4).as("cos"))
      .dropDuplicates("a", "b")
      .filter(col("cos") >= threshold)
  }

  /** Near-duplicate CLUSTERS from a pair list (a, b): connected
    * components over the pair graph; cluster_id = least doc_id in the
    * component (ids zero-padded to the full Long width before the string
    * CC so lexicographic min == numeric min — lpad TRUNCATES overlong
    * input, so the pad must cover max-Long's 19 digits; negative ids are
    * rejected, their lexicographic order would be wrong). The
    * keep-one-per-cluster step of a dedup pipeline is then
    * `filter(doc_id === cluster_id)`.
    */
  def clusters(pairs: DataFrame): DataFrame = {
    def key(c: Column) = {
      val guarded = when(c < 0,
        raise_error(lit("clusters(): negative doc_id"))).otherwise(c)
      lpad(guarded.cast("string"), 19, "0")
    }
    graft.graphops.ConnectedComponents(
      pairs.select(key(col("a")).as("src"), key(col("b")).as("dst")))
      .select(col("node").cast("long").as("doc_id"),
        col("component").cast("long").as("cluster_id"))
  }

  /** 64-bit SimHash over word tokens: sum ±1 per bit weighted by token
    * hash bits, sign → fingerprint bit. Pure column expressions.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"s_$b")
    }
    val agg = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"s_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs: block on 16-bit chunks (docs within hamming
    * distance 3 of each other share ≥1 identical chunk of 4), verify with
    * bit_count of xor.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fps = simhash(docs)
    val chunks = fps.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(c => struct(lit(c).as("c"),
          shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFF).as("v"))): _*))
          .as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.c"), col("ck.v"))
    chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
