package graft.linking

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** Entity-linking stage: dictionary gazetteer + broadcast mention scan.
  *
  * Mirrors the reference's index-lookup join shape (cached subject lookup,
  * MainCliVoidGeneratorMinimal.java:149-153 ≈ a broadcast hash build side).
  *
  * Scale: the gazetteer is the small dimension (thousands-millions of
  * surfaces) — `broadcast()` keeps the mention scan shuffle-free; the fact
  * side (transcripts) streams through codegen. Skew in mention frequency
  * (hot "celebrity" entities) is therefore free here: no shuffle key ever
  * equals the entity. Downstream joins keyed by entity use salting /
  * AQE skew-join (see Kg.canonicalTriples).
  */
object Gazetteer {

  val AliasNs = "http://graft.io/alias/"

  /** Deterministic gazetteer from the `nation` dimension: three surface
    * variants per entity, each its own alias IRI (the alias graph links
    * them; CC canonicalization picks the least IRI).
    */
  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").cast("long").as("k"))
    val key = col("k").cast("string")
    def alias(v: Int) = concat(lit(AliasNs + "NATION_"), key, lit("/" + v))
    // one dimension scan (r10): the three surface variants explode from
    // one row array instead of a 3-way unionAll (3 scans)
    def s(surface: Column, v: Int) =
      struct(surface.as("surface"), alias(v).as("alias_iri"))
    n.select(explode(array(
        s(concat(lit("NATION_"), key), 0),
        s(concat(lit("nation "), key), 1),
        s(concat(lit("Nation-"), key), 2))).as("r"))
      .select(col("r.surface").as("surface"), col("r.alias_iri").as("alias_iri"))
  }

  /** Undirected alias edges: a chain 0-1-2 per entity plus an extra
    * high-degree node on entity 0 (the skew case).
    */
  def aliasEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val n = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").cast("long").as("k"))
    val key = col("k").cast("string")
    def alias(v: Int) = concat(lit(AliasNs + "NATION_"), key, lit("/" + v))
    // one dimension scan (r10): chain + conditional extra edges from one
    // row array instead of a 4-way unionAll (4 scans)
    def e(a: Column, b: Column) = struct(a.as("src"), b.as("dst"))
    val emptyArr = array().cast("array<struct<src:string,dst:string>>")
    n.select(explode(concat(
        array(e(alias(0), alias(1)), e(alias(1), alias(2))),
        when(col("k") === 0,
          array(e(alias(3), alias(0)), e(alias(3), alias(2))))
          .otherwise(emptyArr))).as("r"))
      .select(col("r.src").as("src"), col("r.dst").as("dst"))
  }

  /** Word-boundary normalization: every RUN of non-alphanumerics collapses
    * to ONE space (static regex — compiled once, codegen). After this,
    * "surface occurs at word boundaries" ≡ "the surface's token sequence
    * appears as consecutive text tokens" — which turns the mention scan
    * into an EQUI-join on token n-grams (below) instead of an
    * O(rows × surfaces) substring scan.
    */
  def boundaryNormText(text: Column): Column =
    // tokenize + rejoin instead of regexp_replace (see functions.Tokenize)
    concat(lit(" "),
      array_join(graft.functions.Tokenize.alnumTokens(text), " "),
      lit(" "))

  /** Canonical join key of a surface: separators collapsed, trimmed. */
  def surfaceKey(surface: Column): Column =
    trim(regexp_replace(surface, "[^A-Za-z0-9]+", " "))

  /** Longest surface in tokens — bounds the n-gram explode. One
    * metadata-scale job over the (small, broadcastable) gazetteer.
    */
  def maxSurfaceTokens(gaz: DataFrame): Int = {
    val r = gaz.agg(max(size(split(surfaceKey(col("surface")), " ")))).head
    if (r.isNullAt(0)) 0 else r.getInt(0) // 0 = empty gazetteer
  }

  /** The DISTINCT surface lengths (in tokens) present in the gazetteer:
    * the explode emits only these lengths — real gazetteers are
    * length-sparse (e.g. surfaces of 1 and 4 tokens skip 2 and 3
    * entirely). One metadata-scale job.
    */
  def surfaceTokenLengths(gaz: DataFrame): Seq[Int] =
    surfaceTokenLengthsAndCount(gaz)._1

  /** Distinct surface token lengths AND the gazetteer row count, in ONE
    * metadata-scale job (a per-length count): callers that also need the
    * broadcast-cutoff decision ([[mentionsRaw]]'s probe) get both
    * answers for one job instead of two full gazetteer evaluations.
    */
  def surfaceTokenLengthsAndCount(gaz: DataFrame): (Seq[Int], Long) = {
    val rows = gaz
      .select(size(split(surfaceKey(col("surface")), " ")).as("l"))
      .groupBy("l").agg(count(lit(1)).as("c")).collect()
    val ls = rows.filterNot(_.isNullAt(0)).map(_.getInt(0))
      .filter(_ >= 1).sorted.toSeq
    val n = rows.map(_.getLong(1)).sum
    (if (ls.isEmpty) Seq(1) else ls, n)
  }

  /** The session's broadcast cutoff for the gazetteer side (rows). */
  def broadcastCutoff(spark: SparkSession): Long =
    spark.conf.get("graft.gazetteer.broadcastMaxRows",
      DefaultBroadcastMaxRows.toString).toLong

  /** Mention detection as a broadcast HASH equi-join (never a nested-loop
    * contains scan): each turn's text explodes into 64-bit token-n-gram
    * window hashes of the gazetteer's surface lengths, which join the
    * per-length-hashed surface keys (see [[mentionsRaw]] for the
    * hash-equality ≡ token-equality argument). Cost is O(rows × tokens ×
    * |lengths|) INDEPENDENT of gazetteer size — a 1M-surface gazetteer
    * costs the same scan as a 75-surface one (the build side is a hash
    * map). One row per (turn, matching surface), matching the
    * word-boundary contains semantics exactly: repeated occurrences
    * collapse AFTER the join (post-join rows ≈ #mentions, so this shuffle
    * is tiny; deduplicating n-grams per row pre-join was measured slower:
    * array_distinct is quadratic interpreted work on every row vs a small
    * exchange on the matches). An empty `tokenLengths` (Nil) means
    * "compute from the gazetteer" (one metadata-scale job; pass it
    * explicitly to skip).
    */
  def mentions(transcripts: DataFrame, gaz: DataFrame,
      tokenLengths: Seq[Int] = Nil,
      broadcastGaz: Option[Boolean] = None): DataFrame =
    mentionsRaw(transcripts, gaz, tokenLengths, broadcastGaz)
      .dropDuplicates("conv_id", "turn_idx", "surface", "alias_iri")

  /** Broadcast cutoff for the gazetteer side of the mention join, rows.
    * Overridable per session (`graft.gazetteer.broadcastMaxRows`).
    * ~2 M surfaces × ~100 B ≈ 200 MB serialized — about the most a
    * 1000-executor broadcast should carry; beyond it the join shuffles.
    */
  val DefaultBroadcastMaxRows = 2000000L

  /** Salt buckets of the shuffled (past-broadcast) mention join. */
  private val SaltBuckets = 8

  /** Like [[mentions]] but one row per OCCURRENCE (duplicates possible).
    * Pipelines whose downstream already deduplicates (e.g. the flagship's
    * final triple `distinct()`) use this to skip the dedup exchange.
    * `tokenLengths` = the surface lengths to emit; Nil means "compute
    * from the gazetteer" (one metadata-scale job).
    *
    * Join strategy (the SURVEY skew ledger's one genuinely skew-exposed
    * shuffle): while the gazetteer fits a broadcast
    * (`graft.gazetteer.broadcastMaxRows`, default 2 M rows), the join is
    * broadcast-hash — zero shuffle, skew-free by construction. When it
    * outgrows that, the join must shuffle on the n-gram key, and that
    * key is POWER-LAW skewed (a stop-word surface appears in most
    * turns), so the fact side salts into `SaltBuckets` (8) buckets via
    * [[graft.ops.SaltedJoin]] — the hot n-gram spreads over 8 reducers,
    * the gazetteer replicates 8×. Measured on a planted-skew corpus
    * (BASELINE.md, round 9 salted-join table: 40 M turns / 80% hot /
    * 2.5 M-surface gazetteer): salted beats the plain shuffle 2.9× with
    * AQE off and still 1.75× with AQE's skew split on; at small volume
    * (2 M turns) the 8× dim replication dominates and salting LOSES 2× —
    * which is exactly why the broadcast tier comes first and salting
    * only engages past it. `broadcastGaz` forces the decision; None
    * probes with one distributed count (metadata-scale vs the scan the
    * join is about to do).
    */
  def mentionsRaw(transcripts: DataFrame, gaz: DataFrame,
      tokenLengths: Seq[Int] = Nil,
      broadcastGaz: Option[Boolean] = None): DataFrame = {
    val lengths =
      if (tokenLengths.nonEmpty) tokenLengths else surfaceTokenLengths(gaz)
    // join keys are 64-bit ShingleHashes window hashes, NOT n-gram
    // strings: the fact side never materializes n-gram text (the string
    // form allocated one concat per token per length — the measured
    // allocation hot spot of the mention scan), and the shuffle/broadcast
    // carries 8-byte longs. The gazetteer side hashes each surface's own
    // token window per length group with the SAME expression, so hash
    // equality ≡ token-sequence equality modulo p≈2⁻⁶⁴ collisions — the
    // regime the dedup path already operates in (ShingleHashes scaladoc;
    // TrainingSpec parity). The surface/alias columns come from the
    // gazetteer side, so the output is unchanged.
    val surfToks = split(surfaceKey(col("surface")), " ")
    // ONE gazetteer subtree (review-found: the per-length unionAll form
    // replicated the full gazetteer lineage |lengths| times in the plan —
    // harmless for the memoized/truncated Kg path, an N× re-execution for
    // direct callers with a derived gazetteer). Each surface belongs to
    // exactly one length group — its own token count — so the per-length
    // window hash compiles to a CASE over size(__t); rows whose length is
    // outside the requested set yield NULL and are filtered, exactly the
    // rows the old per-length filters dropped.
    val g = {
      val sized = gaz.select(col("surface"), col("alias_iri"), surfToks.as("__t"))
      val ng = lengths.foldLeft(lit(null).cast("long")) { (acc, l) =>
        when(size(col("__t")) === l,
          element_at(graft.functions.ShingleHashes(col("__t"), l), 1))
          .otherwise(acc)
      }
      sized.select(col("surface"), col("alias_iri"), ng.as("__ng"))
        .filter(col("__ng").isNotNull)
    }
    val spans = ngramSpanHashes(transcripts, lengths)
    val bc = broadcastGaz.getOrElse {
      val spark = gaz.sparkSession
      val max = broadcastCutoff(spark)
      // memoized per canonical gazetteer plan and its input files: the
      // probe count would otherwise re-evaluate the full gazetteer lineage
      // on EVERY call, once for the probe and again for the join build
      // (review-found). Session-scoped: the plan may name session RDDs.
      graft.Memo(s"gazetteer.fits:$max:" +
          gaz.queryExecution.logical.canonicalized, gaz.inputFiles.toSeq,
        spark.sessionState.newHadoopConf(), Some(spark))(gaz.count() <= max)
    }
    val joined =
      if (bc) spans.join(broadcast(g), "__ng")
      else graft.ops.SaltedJoin.inner(spans, g, "__ng",
        saltSource = Seq(col("conv_id"), col("turn_idx")), SaltBuckets)
    joined.select(col("conv_id"), col("turn_idx"), col("surface"),
      col("alias_iri"))
  }

  /** (conv_id, turn_idx, __ng): each turn's token n-grams of length
    * 1..maxTokens, duplicates included (callers dedup downstream where
    * the row count is already small).
    *
    * Construction cost per element is ONE string concat: l-grams build
    * incrementally as zip_with((l-1)-grams, l-shifted tokens, concat).
    * zip_with pads the shorter side with NULL and concat propagates it,
    * so each length-l list carries l-1 trailing NULLs — dropped by the
    * post-explode filter. (A transform(slice+array_join) formulation was
    * measured 3× slower: per-element array copies in an interpreted
    * lambda.)
    */
  def ngramSpans(transcripts: DataFrame, maxTokens: Int,
      minTokens: Int = 1): DataFrame =
    ngramSpans(transcripts, (math.max(1, minTokens) to maxTokens))

  /** As above, emitting ONLY the given n-gram lengths (length-set
    * pruning: the intermediate lengths are still built incrementally —
    * one concat per element — but never emitted or joined).
    */
  def ngramSpans(transcripts: DataFrame, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1), s"bad lengths $lengths")
    val maxTokens = lengths.max
    val t = col("__toks")
    val gramsByLen: Seq[Column] = (2 to maxTokens).scanLeft(t) { (prev, l) =>
      zip_with(prev,
        slice(t, lit(l), greatest(size(t) - (l - 1), lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    val grams = lengths.sorted.map(l => gramsByLen(l - 1))
    val allGrams = if (grams.size == 1) grams.head else concat(grams: _*)
    transcripts
      // tokenize via codegen translate + literal split — see
      // functions.Tokenize for the measured ~17x over any regex form
      .withColumn("__toks", graft.functions.Tokenize.alnumTokens(col("text")))
      // n-gram array built ONCE per row in its own Project; the generator
      // below explodes a plain attribute, so nothing re-evaluates per
      // output row
      .withColumn("__ngrams", allGrams)
      // explode_outer: InferFiltersFromGenerate would wrap plain explode
      // with size()/isnotnull filters that predicate-pushdown re-inlines
      // through the Project — re-evaluating the n-gram chain 2 more times
      // per row. outer explode infers nothing; the NULL rows it adds are
      // dropped right here
      .select(col("conv_id"), col("turn_idx"),
        explode_outer(col("__ngrams")).as("__ng"))
      .filter(col("__ng").isNotNull)
  }

  /** Hash twin of [[ngramSpans]]: (conv_id, turn_idx, __ng:long) — one
    * 64-bit [[graft.functions.ShingleHashes]] window hash per token
    * n-gram of each requested length, per occurrence. No n-gram string is
    * ever built; same explode_outer pattern (see above) so the hash
    * arrays evaluate once per row.
    */
  def ngramSpanHashes(transcripts: DataFrame, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1), s"bad lengths $lengths")
    val t = col("__toks")
    val hs = lengths.sorted.map(l => graft.functions.ShingleHashes(t, l))
    val all = if (hs.size == 1) hs.head else concat(hs: _*)
    transcripts
      .withColumn("__toks", graft.functions.Tokenize.alnumTokens(col("text")))
      .withColumn("__hashes", all)
      .select(col("conv_id"), col("turn_idx"),
        explode_outer(col("__hashes")).as("__ng"))
      .filter(col("__ng").isNotNull)
  }

  /** Character k-shingle set of a string (short strings fall back to the
    * whole string, so every key has ≥1 shingle).
    */
  def charShingles(key: Column, k: Int): Column =
    when(length(key) >= k,
      array_distinct(transform(sequence(lit(1), length(key) - (k - 1)),
        i => key.substr(i, lit(k)))))
      .otherwise(array(key))

  /** Fuzzy entity linking with MinHash-LSH blocking (SURVEY §7.2.5):
    * links text spans to gazetteer surfaces whose character-3-shingle
    * Jaccard ≥ `threshold` — typo-tolerant matching WITHOUT an all-pairs
    * span × surface scan. Spans (distinct token n-grams, deduplicated
    * corpus-wide before signatures) and surface keys each get a MinHash
    * signature; LSH band buckets turn candidate generation into an
    * equi-join (surface side broadcast); candidates are verified with
    * exact shingle Jaccard, so precision w.r.t. the threshold is 1.0 and
    * recall is the standard LSH collision probability.
    * Output: one row per (turn, span, matched surface).
    */
  def fuzzyMentions(transcripts: DataFrame, gaz: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    import graft.dedup.Dedup.{minhashSignatures, lshBuckets}
    val maxTok = maxSurfaceTokens(gaz)
    if (maxTok == 0) // empty gazetteer: well-typed empty result, not an NPE
      return transcripts.filter(lit(false)).select(col("conv_id"),
        col("turn_idx"), lit("").as("span"), lit("").as("surface"),
        lit("").as("alias_iri"), lit(0.0d).as("jaccard"))
    // the span explode is the dominant corpus-scale stage and feeds BOTH
    // the signature path (via spanKeys) and the final join — materialize
    // it once (same pattern as minhashPairs; reliable checkpoint on a
    // cluster) instead of recomputing the n-gram chain twice.
    // Span side deliberately uses ALL lengths 1..maxTok (no length-set
    // pruning like the exact path): fuzzy matches may differ in token
    // count from every gazetteer surface (typos add/drop separators).
    val spans = ngramSpans(transcripts, maxTok).truncateLineage(false)
    val spanKeys = spans.select(col("__ng")).distinct()
    val spanSh = spanKeys
      .select(col("__ng").as("doc_id"), explode(charShingles(col("__ng"), 3)).as("shingle"))
    val surfKeys = gaz.select(surfaceKey(col("surface")).as("__key")).distinct()
    val surfSh = surfKeys
      .select(col("__key").as("doc_id"), explode(charShingles(col("__key"), 3)).as("shingle"))

    val spanBk = lshBuckets(minhashSignatures(spanSh, numHashes), numHashes, rowsPerBand)
    val surfBk = lshBuckets(minhashSignatures(surfSh, numHashes), numHashes, rowsPerBand)
    val cands = spanBk.join(broadcast(surfBk
          .withColumnRenamed("doc_id", "__key")),
        Seq("band", "key"))
      .select(col("doc_id").as("__ng"), col("__key")).distinct()

    // exact shingle-Jaccard verification of the (bounded) candidate set
    val spanSizes = spanSh.groupBy("doc_id").agg(count(lit(1)).as("n_a"))
    val surfSizes = surfSh.groupBy("doc_id").agg(count(lit(1)).as("n_b"))
    val common = cands
      .join(spanSh.withColumnRenamed("doc_id", "__ng"), "__ng")
      .join(broadcast(surfSh.withColumnRenamed("doc_id", "__key")
        .withColumnRenamed("shingle", "sh_b")), "__key")
      .filter(col("shingle") === col("sh_b"))
      .groupBy("__ng", "__key").agg(count(lit(1)).as("common"))
    val verified = common
      .join(spanSizes.withColumnRenamed("doc_id", "__ng"), "__ng")
      .join(broadcast(surfSizes.withColumnRenamed("doc_id", "__key")), "__key")
      .withColumn("jaccard",
        round(col("common") / (col("n_a") + col("n_b") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("__ng"), col("__key"), col("jaccard"))

    spans.join(verified, "__ng")
      .join(broadcast(gaz.select(col("surface"), col("alias_iri"),
        surfaceKey(col("surface")).as("__key"))), "__key")
      .select(col("conv_id"), col("turn_idx"), col("__ng").as("span"),
        col("surface"), col("alias_iri"), col("jaccard"))
      .dropDuplicates() // spans carry one row per occurrence
  }

  /** DuckDB CTE bodies kept in lockstep with the builders above. */
  def gazOracleCte: String =
    """gaz AS (
      |  SELECT 'NATION_' || CAST(n_nationkey AS VARCHAR) AS surface,
      |         'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/0' AS alias_iri FROM nation
      |  UNION ALL
      |  SELECT 'nation ' || CAST(n_nationkey AS VARCHAR),
      |         'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/1' FROM nation
      |  UNION ALL
      |  SELECT 'Nation-' || CAST(n_nationkey AS VARCHAR),
      |         'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/2' FROM nation
      |)""".stripMargin

  def edgesOracleCte: String =
    """alias_edges AS (
      |  SELECT 'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/0' AS src,
      |         'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/1' AS dst FROM nation
      |  UNION ALL
      |  SELECT 'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/1',
      |         'http://graft.io/alias/NATION_' || CAST(n_nationkey AS VARCHAR) || '/2' FROM nation
      |  UNION ALL
      |  SELECT 'http://graft.io/alias/NATION_0/3', 'http://graft.io/alias/NATION_0/0' FROM nation WHERE n_nationkey = 0
      |  UNION ALL
      |  SELECT 'http://graft.io/alias/NATION_0/3', 'http://graft.io/alias/NATION_0/2' FROM nation WHERE n_nationkey = 0
      |)""".stripMargin
}
