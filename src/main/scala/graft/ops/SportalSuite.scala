package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.rules.Sportal
import graft.sources.SyntheticQuads

/** Driver entries for the reference's sportal VoID battery run VERBATIM
  * (use-case-sportal-analysis — see src/main/resources/sportal/README.md)
  * against the [[SyntheticQuads.sportalTriples]] fixture, each with a
  * lockstep DuckDB oracle. Entries `.distinct()` the CONSTRUCT output:
  * a CONSTRUCT result is an RDF GRAPH (a triple set — Jena materializes
  * into a Model), while the engine's frames keep duplicates so the
  * 100 TB path can defer dedup to the materializer.
  */
object SportalSuite {

  private def trip(s: SparkSession, dir: String): DataFrame =
    SyntheticQuads.sportalTriples(s, dir)

  /** Hard bound on the driver-side fixture write in [[scriptFixture]]. */
  private[graft] val MaxFixtureTriples = 1000000L

  /** One local .nt fixture file per required sorttest name, written from
    * the SAME sportal triple frame (the reference's two snapshots of one
    * corpus), plus the `graft.fileAliases` remap that points the
    * scripts' machine-specific /home/raven paths at it. Only that one
    * pair is added or replaced; the caller's other aliases stay.
    */
  private[graft] def scriptFixture(s: SparkSession, dir: String): Unit = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_sorttest_" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
    writeSortedNt(trip(s, dir), root)
    val from = "/home/raven/tmp/sorttest"
    val others = sys.props.get("graft.fileAliases").toSeq.flatMap(_.split(','))
      .filterNot(p => p.isEmpty || p.startsWith(s"$from="))
    sys.props("graft.fileAliases") = (others :+ s"$from=$root").mkString(",")
  }

  /** FIXTURE MANUFACTURE ONLY (in real use the sorted-nt endpoint file
    * already exists): this collect-and-write must never silently pull a
    * data-scale frame to the driver — fail loudly instead (count first,
    * so an oversized corpus aborts BEFORE any driver materialization).
    */
  private[graft] def writeSortedNt(triples: DataFrame,
      root: java.nio.file.Path, maxTriples: Long = MaxFixtureTriples): Unit = {
    java.nio.file.Files.createDirectories(root)
    val n = triples.count()
    require(n <= maxTriples,
      s"scriptFixture: $n triples exceed the $maxTriples fixture " +
        "bound — the binsearch endpoint .nt is a driver-written FIXTURE; " +
        "point the scripts at a pre-existing sorted .nt (graft.fileAliases) " +
        "instead of manufacturing one from a data-scale frame")
    val lines = triples.collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} .")
      .sorted // the reference's files are subject-sorted (binsearch)
      .mkString("", "\n", "\n")
    for (name <- Seq("sorted.nt", "dnb-all_lds_20200213.sorted.nt"))
      java.nio.file.Files.writeString(root.resolve(name), lines)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // whole-dataset VoID counts (compact qbAllBut2.rq: one subselect,
    // four aggregates, D + 4 typed-literal triples)
    "sportal_qb_all" -> ((s, dir) =>
      Sportal.runCompact("qbAllBut2", trip(s, dir)).distinct()),
    // class partitions with IRI keys minted via ENCODE_FOR_URI
    "sportal_qc5" -> ((s, dir) =>
      Sportal.runCompact("qc5", trip(s, dir)).distinct()),
    // property partitions: triples + distinct subjects/objects per pred
    "sportal_qd_all" -> ((s, dir) =>
      Sportal.runCompact("qdAll", trip(s, dir)).distinct()),
    // class×property partitions, two-level subselect + alias-chained
    // IRI minting ((CONCAT(…) AS ?kStr) (IRI(?kStr) AS ?k))
    "sportal_qe_all" -> ((s, dir) =>
      Sportal.runCompact("qeAll", trip(s, dir)).distinct()),
    // distinct blank nodes: UNION + group-scoped isBlank filter (raw)
    "sportal_qf6" -> ((s, dir) =>
      Sportal.runRaw("qf6", trip(s, dir)).distinct()),
    // subjectTypes partitions per (property, subject class) (compact)
    "sportal_qf9" -> ((s, dir) =>
      Sportal.runCompact("qf9", trip(s, dir)).distinct()),
    // qf1–qf8 fused into ONE aggregation pass (multi-agg shared scan —
    // the reference's publish() fan-out done Spark-first); value-equality
    // vs the eight verbatim raw queries asserted in SportalSpec
    "sportal_qf_fused" -> ((s, dir) =>
      Sportal.fusedQfCounts(trip(s, dir))),
    // the binsearch file-SERVICE script: verbatim text, ?binsearch=true
    // stripped by the reader, /home/raven path remapped onto a local
    // .nt fixture via graft.fileAliases
    "sportal_script_qb2" -> ((s, dir) => {
      scriptFixture(s, dir)
      Sportal.runScript("sportal-qb2", trip(s, dir)).distinct()
    }),
    // the battery-as-a-pipeline (VERDICT r8 task 7): all 16 queries over
    // ONE persisted scan (the reference's publish()+subscribe fan-out,
    // MainCliVoidGenerator.java:536-555), each member's distinct output
    // cardinality pinned by the oracle. Only 16 (id, count) scalars ever
    // reach the driver; the unpersist is safe because runBattery's
    // counts are eager.
    "sportal_battery" -> ((s, dir) => {
      import s.implicits._
      val mat = trip(s, dir).persist()
      try Sportal.runBattery(mat).toDF("query_id", "n")
      finally mat.unpersist(blocking = false)
    })
  )

  private val G = "'<urn:x-arq:DefaultGraph>' AS graph"
  private val TypeP = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
  private val V = "http://rdfs.org/ns/void#"
  private val XInt = "\"^^<http://www.w3.org/2001/XMLSchema#integer>'"

  private def cte = SyntheticQuads.sportalOracleCte

  /** xsd:integer literal from a count column (DuckDB side). */
  private def intLit(expr: String) =
    s"'\"' || CAST($expr AS VARCHAR) || '$XInt"

  /** ENCODE_FOR_URI over the fixture's IRI alphabet ([A-Za-z0-9:/.#] —
    * ':', '/' and '#' (rdf:type!) are its RFC 3986 reserved chars).
    */
  private def enc(expr: String) =
    s"replace(replace(replace($expr, ':', '%3A'), '/', '%2F'), '#', '%23')"

  /** Strip the <angle brackets> off a term column. */
  private def bare(c: String) = s"substr($c, 2, length($c) - 2)"

  def oracles: Map[String, String] =
    baseOracles + ("sportal_battery" -> batteryCountSql)

  private val baseOracles: Map[String, String] = Map(
    "sportal_qb_all" ->
      s"""WITH $cte, agg AS (
         |  SELECT COUNT(subj) AS x, COUNT(DISTINCT subj) AS a,
         |         COUNT(DISTINCT pred) AS b, COUNT(DISTINCT obj) AS c
         |  FROM sportal)
         |SELECT '<http://my.data/set>' AS subj, '<${V}triples>' AS pred,
         |       ${intLit("x")} AS obj, $G FROM agg
         |UNION ALL SELECT '<http://my.data/set>', '<${V}distinctSubjects>', ${intLit("a")}, '<urn:x-arq:DefaultGraph>' FROM agg
         |UNION ALL SELECT '<http://my.data/set>', '<${V}properties>', ${intLit("b")}, '<urn:x-arq:DefaultGraph>' FROM agg
         |UNION ALL SELECT '<http://my.data/set>', '<${V}distinctObjects>', ${intLit("c")}, '<urn:x-arq:DefaultGraph>' FROM agg""".stripMargin,
    "sportal_qc5" ->
      s"""WITH $cte, stats AS (
         |  SELECT obj AS cls, COUNT(DISTINCT subj) AS n
         |  FROM sportal WHERE pred = '$TypeP' GROUP BY obj),
         |k AS (SELECT cls, n,
         |  'http://my.data/set/cp/' || ${enc(bare("cls"))} AS kiri FROM stats)
         |SELECT '<http://my.data/set>' AS subj,
         |       '<${V}classPartition>' AS pred, '<' || kiri || '>' AS obj,
         |       $G FROM k
         |UNION ALL SELECT '<' || kiri || '>', '<${V}class>', cls, '<urn:x-arq:DefaultGraph>' FROM k
         |UNION ALL SELECT '<' || kiri || '>', '<${V}distinctSubjects>', ${intLit("n")}, '<urn:x-arq:DefaultGraph>' FROM k""".stripMargin,
    "sportal_qd_all" ->
      s"""WITH $cte, stats AS (
         |  SELECT pred AS p, COUNT(obj) AS x, COUNT(DISTINCT subj) AS a,
         |         COUNT(DISTINCT obj) AS c
         |  FROM sportal GROUP BY pred),
         |l AS (SELECT p, x, a, c,
         |  'http://my.data/set/pp/' || ${enc(bare("p"))} AS liri FROM stats)
         |SELECT '<http://my.data/set>' AS subj,
         |       '<${V}propertyPartition>' AS pred, '<' || liri || '>' AS obj,
         |       $G FROM l
         |UNION ALL SELECT '<' || liri || '>', '<${V}property>', p, '<urn:x-arq:DefaultGraph>' FROM l
         |UNION ALL SELECT '<' || liri || '>', '<${V}triples>', ${intLit("x")}, '<urn:x-arq:DefaultGraph>' FROM l
         |UNION ALL SELECT '<' || liri || '>', '<${V}distinctSubjects>', ${intLit("a")}, '<urn:x-arq:DefaultGraph>' FROM l
         |UNION ALL SELECT '<' || liri || '>', '<${V}distinctObjects>', ${intLit("c")}, '<urn:x-arq:DefaultGraph>' FROM l""".stripMargin,
    "sportal_qe_all" ->
      s"""WITH $cte, types AS (
         |  SELECT subj, obj AS cls FROM sportal WHERE pred = '$TypeP'),
         |stats AS (
         |  SELECT t.cls, s.pred AS p, COUNT(s.obj) AS x,
         |         COUNT(DISTINCT s.subj) AS a, COUNT(DISTINCT s.obj) AS c
         |  FROM types t JOIN sportal s ON s.subj = t.subj
         |  GROUP BY t.cls, s.pred),
         |kl AS (SELECT cls, p, x, a, c,
         |  'http://my.data/set/cp/' || ${enc(bare("cls"))} AS kiri,
         |  'http://my.data/set/cp/' || ${enc(bare("cls"))} || '/pp/' ||
         |    ${enc(bare("p"))} AS liri
         |  FROM stats)
         |SELECT DISTINCT '<http://my.data/set>' AS subj,
         |       '<${V}classPartition>' AS pred, '<' || kiri || '>' AS obj,
         |       $G FROM kl
         |UNION ALL SELECT DISTINCT '<' || kiri || '>', '<${V}class>', cls, '<urn:x-arq:DefaultGraph>' FROM kl
         |UNION ALL SELECT '<' || kiri || '>', '<${V}propertyPartition>', '<' || liri || '>', '<urn:x-arq:DefaultGraph>' FROM kl
         |UNION ALL SELECT '<' || liri || '>', '<${V}property>', p, '<urn:x-arq:DefaultGraph>' FROM kl
         |UNION ALL SELECT '<' || liri || '>', '<${V}triples>', ${intLit("x")}, '<urn:x-arq:DefaultGraph>' FROM kl
         |UNION ALL SELECT '<' || liri || '>', '<${V}distinctSubjects>', ${intLit("a")}, '<urn:x-arq:DefaultGraph>' FROM kl
         |UNION ALL SELECT '<' || liri || '>', '<${V}distinctObjects>', ${intLit("c")}, '<urn:x-arq:DefaultGraph>' FROM kl""".stripMargin,
    "sportal_qf_fused" ->
      s"""WITH $cte, pos AS (
         |  SELECT 's' AS pos, subj AS t FROM sportal
         |  UNION ALL SELECT 'p', pred FROM sportal
         |  UNION ALL SELECT 'o', obj FROM sportal),
         |a AS (SELECT
         |  COUNT(DISTINCT CASE WHEN pos = 's' AND starts_with(t, '<') THEN t END) AS qf1,
         |  COUNT(DISTINCT CASE WHEN pos = 's' AND starts_with(t, '_:') THEN t END) AS qf2,
         |  COUNT(DISTINCT CASE WHEN pos = 'o' AND starts_with(t, '<') THEN t END) AS qf3,
         |  COUNT(DISTINCT CASE WHEN pos = 'o' AND starts_with(t, '"') THEN t END) AS qf4,
         |  COUNT(DISTINCT CASE WHEN pos = 'o' AND starts_with(t, '_:') THEN t END) AS qf5,
         |  COUNT(DISTINCT CASE WHEN pos <> 'p' AND starts_with(t, '_:') THEN t END) AS qf6,
         |  COUNT(DISTINCT CASE WHEN starts_with(t, '<') THEN t END) AS qf7,
         |  COUNT(DISTINCT t) AS qf8
         |FROM pos)
         |SELECT '<env://D>' AS subj, '<${V}distinctIRIReferenceSubjects>' AS pred, ${intLit("qf1")} AS obj, $G FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctBlankNodeSubjects>', ${intLit("qf2")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctIRIReferenceObjects>', ${intLit("qf3")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctLiterals>', ${intLit("qf4")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctBlankNodeObjects>', ${intLit("qf5")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctBlankNodes>', ${intLit("qf6")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctIRIReferences>', ${intLit("qf7")}, '<urn:x-arq:DefaultGraph>' FROM a
         |UNION ALL SELECT '<env://D>', '<${V}distinctRDFNodes>', ${intLit("qf8")}, '<urn:x-arq:DefaultGraph>' FROM a""".stripMargin,
    "sportal_qf6" ->
      s"""WITH $cte, bn AS (
         |  SELECT COUNT(DISTINCT b) AS x FROM (
         |    SELECT obj AS b FROM sportal WHERE starts_with(obj, '_:')
         |    UNION ALL SELECT subj FROM sportal WHERE starts_with(subj, '_:')) u)
         |SELECT '<env://D>' AS subj, '<${V}distinctBlankNodes>' AS pred,
         |       ${intLit("x")} AS obj, $G FROM bn""".stripMargin,
    "sportal_qf9" ->
      s"""WITH $cte, types AS (
         |  SELECT subj, obj AS cls FROM sportal WHERE pred = '$TypeP'),
         |stats AS (
         |  SELECT s.pred AS p, t.cls, COUNT(s.subj) AS x
         |  FROM sportal s JOIN types t ON t.subj = s.subj
         |  GROUP BY s.pred, t.cls),
         |lk AS (SELECT p, cls, x,
         |  'http://my.data/set/pp/' || ${enc(bare("p"))} AS liri,
         |  'http://my.data/set/pp/' || ${enc(bare("p"))} || '/cp/' ||
         |    ${enc(bare("cls"))} || '/st' AS kiri
         |  FROM stats)
         |SELECT DISTINCT '<http://my.data/set>' AS subj,
         |       '<${V}propertyPartition>' AS pred, '<' || liri || '>' AS obj,
         |       $G FROM lk
         |UNION ALL SELECT DISTINCT '<' || liri || '>', '<${V}property>', p, '<urn:x-arq:DefaultGraph>' FROM lk
         |UNION ALL SELECT '<' || liri || '>', '<${V}subjectTypes>', '<' || kiri || '>', '<urn:x-arq:DefaultGraph>' FROM lk
         |UNION ALL SELECT '<' || kiri || '>', '<${V}subjectClass>', cls, '<urn:x-arq:DefaultGraph>' FROM lk
         |UNION ALL SELECT '<' || kiri || '>', '<${V}distinctMembers>', ${intLit("x")}, '<urn:x-arq:DefaultGraph>' FROM lk""".stripMargin,
    "sportal_script_qb2" ->
      s"""WITH $cte, agg AS (
         |  SELECT COUNT(DISTINCT obj) AS x FROM sportal WHERE pred = '$TypeP')
         |SELECT '<http://my.data/sot>' AS subj, '<${V}classes>' AS pred,
         |       ${intLit("x")} AS obj, $G FROM agg""".stripMargin
  )

  /** `sportal_battery` oracle: per-query DISTINCT output-row counts for
    * the whole 16-query battery. Result VALUES are already value-exact
    * under the per-query entries (qb_all/qc5/qd_all/qe_all/qf6/qf9/
    * qf_fused); this entry puts the battery-as-a-pipeline FORM itself
    * under the gate, pinning that every member runs and emits the right
    * cardinality. Counts reuse the full per-query oracles where one
    * exists (nested as a subquery) and close-form cardinalities where
    * the template makes them exact: a whole-corpus aggregate CONSTRUCT
    * is always exactly 1 triple (qf1–qf8); qc3/qcAllBut35 emit 3/5
    * distinct triples per class; raw qf9/qf10 mint fresh bnodes per
    * (property, class) group — 5 triples each.
    */
  private def batteryCountSql: String = {
    def cnt(id: String, inner: String) =
      s"SELECT '$id' AS query_id, CAST((SELECT COUNT(*) FROM (\n$inner\n)) AS BIGINT) AS n"
    def classTimes(id: String, k: Int) =
      s"""SELECT '$id' AS query_id, CAST($k * (
         |  SELECT COUNT(DISTINCT obj) FROM sportal WHERE pred = '$TypeP'
         |) AS BIGINT) AS n""".stripMargin
    def one(id: String) =
      s"SELECT '$id' AS query_id, CAST(1 AS BIGINT) AS n"
    def groupTimes(id: String, joinKey: String) =
      s"""SELECT '$id' AS query_id, CAST(5 * (
         |  SELECT COUNT(*) FROM (
         |    SELECT DISTINCT t.pred, ty.obj FROM sportal t
         |    JOIN sportal ty ON ty.subj = t.$joinKey AND ty.pred = '$TypeP')
         |) AS BIGINT) AS n""".stripMargin
    val parts = Seq(
      cnt("qbAllBut2", baseOracles("sportal_qb_all")),
      classTimes("qc3", 3),
      cnt("qc5", baseOracles("sportal_qc5")),
      // 4, not 5: the verbatim query GROUPs BY ?t but does NOT project
      // it out of the subselect, so the template's `?k v:class ?t`
      // triple has an unbound ?t and is dropped (SPARQL §16.2) — the
      // reference under Jena behaves identically
      classTimes("qcAllBut35", 4),
      cnt("qdAll", baseOracles("sportal_qd_all")),
      cnt("qeAll", baseOracles("sportal_qe_all"))) ++
      (1 to 8).map(i => one(s"qf$i")) ++ Seq(
      groupTimes("qf9", "subj"),
      groupTimes("qf10", "obj"))
    s"WITH $cte\n" + parts.mkString("\nUNION ALL\n")
  }
}
