package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Checkpoints.TruncateOps

/** SPARQL 1.1 property paths (§9) over a triple DataFrame — the reference
  * evaluates these inside Jena ARQ (any `integrate` query may use
  * `ex:a/ex:b`, `ex:p+`, `^ex:p`, `!(…)` — SparqlIntegrateCmdImpls.java
  * routes the full SPARQL grammar). Spark-first re-expression:
  *
  *  - link / inverse / sequence / alternative / negated set are pure
  *    relational ops (filter, swap, equi-join, union) — Catalyst reorders
  *    and broadcasts them like any join tree.
  *  - `+`/`*` closures are iterative DISTINCT self-joins with DOUBLING
  *    (R ← R ∪ R∘R), so a diameter-d graph needs ⌈log₂ d⌉ rounds, not d —
  *    the right shape for a 1000-executor cluster where every round is a
  *    full shuffle. `localCheckpoint` truncates lineage each round (same
  *    pattern as [[graft.cc.ConnectedComponents]]). Cycles terminate
  *    because the closed pair-set is bounded and strictly grows.
  *  - a closure with a CONSTANT endpoint runs seeded frontier BFS instead
  *    (visited/frontier sets, anti-join dedup) — work proportional to the
  *    reachable set, not the whole graph.
  *
  * Closure results are DISTINCT pairs per the spec's arbitrary-length-path
  * semantics (SPARQL 1.1 §9.3: no duplicates from `*`/`+`); the
  * non-closure operators keep bag semantics like any BGP join.
  */
object PathOps {

  sealed trait PathExpr
  /** `iri` — one edge step; `iri` is the BARE IRI (no angle brackets). */
  final case class Link(iri: String) extends PathExpr
  final case class Inv(p: PathExpr) extends PathExpr
  final case class Sequence(parts: Seq[PathExpr]) extends PathExpr
  final case class Alt(parts: Seq[PathExpr]) extends PathExpr
  final case class ZeroOrOne(p: PathExpr) extends PathExpr
  final case class ZeroOrMore(p: PathExpr) extends PathExpr
  final case class OneOrMore(p: PathExpr) extends PathExpr
  /** `!(iri… | ^iri…)` — any predicate not in `fwd` (forward) plus any
    * inverted edge whose predicate is not in `inv` (SPARQL 1.1 §9.1
    * splits a negated set into forward and reverse halves).
    */
  final case class NegatedSet(fwd: Seq[String], inv: Seq[String]) extends PathExpr

  private val MaxRounds = 40 // path lengths up to 2^40 — beyond any real graph

  private def term(iri: String) = "<" + iri + ">"

  /** Evaluate a path to its solution pairs: DataFrame(s, o). */
  def eval(triples: DataFrame, p: PathExpr): DataFrame = p match {
    case Link(iri) =>
      triples.where(col("pred") === term(iri))
        .select(col("subj").as("s"), col("obj").as("o"))
    case Inv(q) =>
      eval(triples, q).select(col("o").as("s"), col("s").as("o"))
    case Sequence(parts) =>
      parts.map(eval(triples, _)).reduceLeft { (a, b) =>
        a.as("l").join(b.as("r"), col("l.o") === col("r.s"))
          .select(col("l.s").as("s"), col("r.o").as("o"))
      }
    case Alt(parts) =>
      parts.map(eval(triples, _)).reduceLeft(_ union _)
    case ZeroOrOne(q) =>
      eval(triples, q).union(identityPairs(triples)).distinct()
    case OneOrMore(q) => closure(eval(triples, q))
    case ZeroOrMore(q) =>
      closure(eval(triples, q)).union(identityPairs(triples)).distinct()
    case NegatedSet(fwd, inv) =>
      val f = triples.where(!col("pred").isin(fwd.map(term): _*))
        .select(col("subj").as("s"), col("obj").as("o"))
      if (inv.isEmpty) f
      else f.union(
        triples.where(!col("pred").isin(inv.map(term): _*))
          .select(col("obj").as("s"), col("subj").as("o")))
  }

  /** Zero-length path: every node of the graph relates to itself
    * (SPARQL 1.1 §9.3 — nodes are all terms in subject or object
    * position, literals included).
    */
  private def identityPairs(triples: DataFrame): DataFrame =
    triples.select(col("subj").as("s"))
      .union(triples.select(col("obj").as("s")))
      .distinct()
      .select(col("s"), col("s").as("o"))

  /** Transitive closure by doubling: pairs at length ≤ 2^k after k
    * rounds; fixpoint when the distinct pair count stops growing.
    */
  private[graft] def closure(edges: DataFrame): DataFrame = {
    var r = edges.select("s", "o").distinct().truncateLineage(true)
    var size = r.count()
    var round = 0
    while (round < MaxRounds) {
      val doubled = r.as("l").join(r.as("r"), col("l.o") === col("r.s"))
        .select(col("l.s").as("s"), col("r.o").as("o"))
      val next = r.union(doubled).distinct().truncateLineage(true)
      val nsize = next.count()
      if (nsize == size) return r
      r = next
      size = nsize
      round += 1
    }
    throw new IllegalStateException(
      s"path closure did not converge in $MaxRounds doubling rounds")
  }

  /** Materialize a frame to a cached RDD and rebuild it as a flat scan
    * with FRESH attribute ids — lineage truncation like `localCheckpoint`,
    * but safe for plans that reference the same source three times (the
    * seminaive delta ⋈ edges \ all shape trips Spark 4's checkpoint
    * attribute mapping and AQE metrics reset).
    */
  private def materialize(df: DataFrame): DataFrame =
    // RDD-level checkpoint TRUNCATES LINEAGE (plain persist would let
    // the per-round RDD chain grow until task serialization
    // stack-overflows at diameter-many rounds); reliable when
    // graft.checkpointDir is set
    graft.Checkpoints.truncateRdd(df)

  /** Seminaive (delta-frontier) transitive closure: each round extends
    * only the NEW pairs by one edge (Δ ← (Δ ⋈ E) \ R), so total join work
    * is proportional to the result, not |R|² per round — but rounds =
    * graph diameter, not log₂(diameter). In theory the right choice for
    * bushy low-diameter graphs; [[closure]] (doubling) wins on long
    * chains, where d sequential shuffle barriers dominate. Measured on a
    * chain and a binary tree (BASELINE.md, round 4 transitive-closure
    * table and its round 6 reliable-checkpoint revisit): doubling won
    * both, so [[closure]] stays the default and this is the tested
    * alternative.
    */
  private[graft] def closureSeminaive(edges: DataFrame): DataFrame = {
    val e = materialize(edges.select("s", "o").distinct())
    var all = e
    var delta = e
    var round = 0
    while (round < (1 << 20)) {
      val next = materialize(
        delta.as("l").join(e.as("r"), col("l.o") === col("r.s"))
          .select(col("l.s").as("s"), col("r.o").as("o"))
          .distinct()
          .join(all, Seq("s", "o"), "left_anti"))
      if (next.limit(1).count() == 0) return all
      // re-materialized union: flat plan + fresh ids every round, so the
      // per-round planning cost stays O(1) at diameter-many rounds
      all = materialize(all.union(next))
      delta = next
      round += 1
    }
    throw new IllegalStateException("seminaive closure did not converge")
  }

  /** One-row (c, c) frame on the session of `like`. */
  private def constPair(like: DataFrame, c: String): DataFrame = {
    val spark = like.sparkSession
    import spark.implicits._
    Seq((c, c)).toDF("s", "o")
  }

  /** Seeded reachability (constant endpoint): frontier BFS with anti-join
    * dedup; `includeZero` adds the seed itself (for `*`).
    */
  private[ops] def reachableFrom(edges: DataFrame, seed: String,
      includeZero: Boolean): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = edges.where(col("s") === seed).select("o")
      .distinct().truncateLineage(true)
    var frontier = visited
    var round = 0
    while (frontier.limit(1).count() > 0 && round < (1 << 20)) {
      val next = frontier.as("f")
        .join(edges.as("e"), col("f.o") === col("e.s"))
        .select(col("e.o"))
        .distinct()
        .join(visited, Seq("o"), "left_anti")
        .truncateLineage(true)
      visited = visited.union(next).truncateLineage(true)
      frontier = next
      round += 1
    }
    val reached = visited.select(lit(seed).as("s"), col("o"))
    if (includeZero)
      reached.union(Seq(seed).toDF("s").select(col("s"), col("s").as("o")))
        .distinct()
    else reached
  }

  // ------------------------------------------------- graph-scoped variant

  /** Evaluate a path WITHIN each named graph: DataFrame(g, s, o), every
    * join keyed on the graph as well — a `GRAPH ?g { ?s path ?o }`
    * pattern walks each graph independently (and at scale the graph key
    * co-partitions every round of the closure).
    */
  def evalG(quads: DataFrame, p: PathExpr): DataFrame = p match {
    case Link(iri) =>
      quads.where(col("pred") === term(iri))
        .select(col("graph").as("g"), col("subj").as("s"), col("obj").as("o"))
    case Inv(q) =>
      evalG(quads, q).select(col("g"), col("o").as("s"), col("s").as("o"))
    case Sequence(parts) =>
      parts.map(evalG(quads, _)).reduceLeft { (a, b) =>
        a.as("l").join(b.as("r"),
          col("l.g") === col("r.g") && col("l.o") === col("r.s"))
          .select(col("l.g").as("g"), col("l.s").as("s"), col("r.o").as("o"))
      }
    case Alt(parts) =>
      parts.map(evalG(quads, _)).reduceLeft(_ union _)
    case ZeroOrOne(q) =>
      evalG(quads, q).union(identityPairsG(quads)).distinct()
    case OneOrMore(q) => closureG(evalG(quads, q))
    case ZeroOrMore(q) =>
      closureG(evalG(quads, q)).union(identityPairsG(quads)).distinct()
    case NegatedSet(fwd, inv) =>
      val f = quads.where(!col("pred").isin(fwd.map(term): _*))
        .select(col("graph").as("g"), col("subj").as("s"), col("obj").as("o"))
      if (inv.isEmpty) f
      else f.union(
        quads.where(!col("pred").isin(inv.map(term): _*))
          .select(col("graph").as("g"), col("obj").as("s"), col("subj").as("o")))
  }

  private def identityPairsG(quads: DataFrame): DataFrame =
    quads.select(col("graph").as("g"), col("subj").as("s"))
      .union(quads.select(col("graph"), col("obj")))
      .distinct()
      .select(col("g"), col("s"), col("s").as("o"))

  private[graft] def closureG(edges: DataFrame): DataFrame = {
    var r = edges.select("g", "s", "o").distinct().truncateLineage(true)
    var size = r.count()
    var round = 0
    while (round < MaxRounds) {
      val doubled = r.as("l").join(r.as("r"),
        col("l.g") === col("r.g") && col("l.o") === col("r.s"))
        .select(col("l.g").as("g"), col("l.s").as("s"), col("r.o").as("o"))
      val next = r.union(doubled).distinct().truncateLineage(true)
      val nsize = next.count()
      if (nsize == size) return r
      r = next
      size = nsize
      round += 1
    }
    throw new IllegalStateException(
      s"graph-scoped path closure did not converge in $MaxRounds rounds")
  }

  /** Graph-scoped path pattern: the graph position binds/filters like any
    * other (so `GRAPH ?g { <s> path ?o }` works with a variable graph).
    */
  def pathPatternG(quads: DataFrame, g: Either[String, String],
      s: Either[String, String], path: PathExpr,
      o: Either[String, String]): DataFrame =
    Bgp.bindPositions(evalG(quads, path), Seq("g" -> g, "s" -> s, "o" -> o))

  /** A whole path triple pattern: constants filter (or seed a BFS for
    * closures), variables project, repeated variables enforce equality —
    * mirroring [[Bgp.pattern]] so path patterns join into BGP groups like
    * any other pattern.
    */
  def pathPattern(triples: DataFrame, s: Either[String, String],
      path: PathExpr, o: Either[String, String]): DataFrame = {
    val pairs = (path, s, o) match {
      // seeded fast paths: closure from/to a constant endpoint
      case (OneOrMore(q), Left(c), _) =>
        reachableFrom(eval(triples, q), c, includeZero = false)
      case (ZeroOrMore(q), Left(c), _) =>
        reachableFrom(eval(triples, q), c, includeZero = true)
      case (OneOrMore(q), _, Left(c)) =>
        reachableFrom(
          eval(triples, q).select(col("o").as("s"), col("s").as("o")),
          c, includeZero = false)
          .select(col("o").as("s"), col("s").as("o"))
      case (ZeroOrMore(q), _, Left(c)) =>
        reachableFrom(
          eval(triples, q).select(col("o").as("s"), col("s").as("o")),
          c, includeZero = true)
          .select(col("o").as("s"), col("s").as("o"))
      // ZeroOrOne with a constant endpoint: the zero-length solution is
      // the constant itself, REGARDLESS of whether it occurs in the data
      // (SPARQL 1.1 §9.3 ZeroLengthPath on a bound term) — identityPairs
      // would miss a term absent from the graph
      case (ZeroOrOne(q), Left(c), _) =>
        eval(triples, q).where(col("s") === c)
          .union(constPair(triples, c)).distinct()
      case (ZeroOrOne(q), _, Left(c)) =>
        eval(triples, q).where(col("o") === c)
          .union(constPair(triples, c)).distinct()
      case _ => eval(triples, path)
    }
    Bgp.bindPositions(pairs, Seq("s" -> s, "o" -> o))
  }
}
