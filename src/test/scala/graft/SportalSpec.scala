package graft

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.rules.Sportal
import graft.sources.SyntheticQuads

/** The reference's sportal VoID battery, VERBATIM
  * (use-case-sportal-analysis/src/main/resources q*.rq + compact/ +
  * the sportal scripts — embedded under src/main/resources/sportal/, see
  * its README for provenance). Every file must parse and run; the value
  * checks assert profile numbers against directly computed ground truth,
  * and raw-vs-compact equivalence after bnode flattening.
  */
class SportalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val trip = {
    val t = SyntheticQuads.sportalTriples(spark, TestSpark.sf0001)
    t.cache(); t.count(); t
  }

  private val V = "http://rdfs.org/ns/void#"
  private val TypeP = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

  /** The single xsd:integer object of a one-triple CONSTRUCT result. */
  private def soleInt(df: DataFrame): Long = {
    val rows = df.collect()
    assert(rows.length == 1, s"expected 1 triple, got ${rows.length}")
    termInt(rows(0).getAs[String]("obj"))
  }
  private def termInt(term: String): Long =
    term.stripPrefix("\"")
      .stripSuffix("\"^^<http://www.w3.org/2001/XMLSchema#integer>").toLong

  // ground truth, computed directly on the fixture frame
  private lazy val nTriples = trip.count()
  private lazy val nSubj = trip.select("subj").distinct().count()
  private lazy val nPred = trip.select("pred").distinct().count()
  private lazy val nObj = trip.select("obj").distinct().count()
  private lazy val nClasses =
    trip.where(col("pred") === TypeP).select("obj").distinct().count()

  test("every raw qa…qf query runs (31 files)") {
    val failures = Sportal.rawIds.flatMap { id =>
      try { Sportal.runRaw(id, trip).collect(); None }
      catch { case e: Throwable => Some(s"$id: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n---\n"))
  }

  test("every compact query runs (18 files)") {
    val failures = Sportal.compactIds.flatMap { id =>
      try { Sportal.runCompact(id, trip).collect(); None }
      catch { case e: Throwable => Some(s"$id: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n---\n"))
  }

  test("qa: probe queries") {
    assert(Sportal.runRaw("qa1", trip).count() === 1L) // SELECT * LIMIT 1
    val qa2 = Sportal.runRaw("qa2", trip).collect() // COUNT over LIMIT 1
    assert(qa2.length === 1 && qa2(0).getLong(0) === 1L)
  }

  test("qb: whole-dataset VoID counts match ground truth") {
    assert(soleInt(Sportal.runRaw("qb1", trip)) === nTriples)
    assert(soleInt(Sportal.runRaw("qb2", trip)) === nClasses)
    assert(soleInt(Sportal.runRaw("qb3", trip)) === nPred)
    assert(soleInt(Sportal.runRaw("qb4", trip)) === nSubj)
    assert(soleInt(Sportal.runRaw("qb5", trip)) === nObj)
    // compact qbAllBut2 = qb1+qb3+qb4+qb5 in one shared-scan subselect
    val all = Sportal.runCompact("qbAllBut2", trip).collect()
      .map(r => (r.getAs[String]("pred"), termInt(r.getAs[String]("obj"))))
      .toMap
    assert(all === Map(
      s"<${V}triples>" -> nTriples, s"<${V}distinctSubjects>" -> nSubj,
      s"<${V}properties>" -> nPred, s"<${V}distinctObjects>" -> nObj))
  }

  /** Flatten a partition CONSTRUCT (D →part→ node →fields) into rows of
    * (field-pred → obj) keyed by the node's v:class / v:property value.
    */
  private def flatten(df: DataFrame, keyPred: String): Map[String, Map[String, String]] = {
    val rows = df.collect().map(r => (r.getAs[String]("subj"),
      r.getAs[String]("pred"), r.getAs[String]("obj")))
    val keyOf = rows.collect { case (s, p, o) if p == keyPred => (s, o) }.toMap
    rows.groupBy(_._1).collect {
      case (node, ts) if keyOf.contains(node) =>
        keyOf(node) -> ts.map(t => (t._2, t._3)).toMap
    }
  }

  test("qc5: raw (bnode template) and compact (IRI keys) agree after flattening") {
    val raw = flatten(Sportal.runRaw("qc5", trip), s"<${V}class>")
    val compact = flatten(Sportal.runCompact("qc5", trip), s"<${V}class>")
    assert(raw.nonEmpty)
    assert(raw.view.mapValues(m => termInt(m(s"<${V}distinctSubjects>"))).toMap ===
      compact.view.mapValues(m => termInt(m(s"<${V}distinctSubjects>"))).toMap)
    // spot ground truth: every subject of a class counted once
    val truth = trip.where(col("pred") === TypeP)
      .groupBy(col("obj")).agg(countDistinct(col("subj")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(raw.view.mapValues(m => termInt(m(s"<${V}distinctSubjects>"))).toMap
      === truth)
  }

  test("qd2: per-property triple counts sum to the dataset total") {
    val flat = flatten(Sportal.runRaw("qd2", trip), s"<${V}property>")
    assert(flat.values.map(m => termInt(m(s"<${V}triples>"))).sum === nTriples)
  }

  test("qf: node-kind counts partition the dataset") {
    def one(id: String) = soleInt(Sportal.runRaw(id, trip))
    val iriS = one("qf1"); val bnodeS = one("qf2")
    val iriO = one("qf3"); val lits = one("qf4"); val bnodeO = one("qf5")
    assert(iriS + bnodeS === nSubj) // subjects are IRIs or bnodes
    assert(iriO + lits + bnodeO === nObj) // objects: IRI, literal or bnode
    // qf8 counts ALL distinct nodes; qf7 the IRI ones; qf6 the bnodes
    assert(one("qf7") + one("qf6") + lits === one("qf8"))
  }

  test("qf1–qf8: raw and compact batteries agree on every node-kind count") {
    for (id <- Seq("qf1", "qf2", "qf3", "qf4", "qf5", "qf6", "qf7", "qf8")) {
      val raw = soleInt(Sportal.runRaw(id, trip))
      val compact = soleInt(Sportal.runCompact(id, trip))
      assert(raw === compact, s"$id: raw=$raw compact=$compact")
    }
  }

  test("qe2: never-bound template var suppresses its triples (SPARQL §16.2)") {
    // raw qe2's template mentions ?c, but its subselect only projects
    // ?x ?p — Jena emits no v:class triples; neither must we
    val out = Sportal.runRaw("qe2", trip)
    assert(out.where(col("pred") === s"<${V}class>").count() === 0L)
    assert(out.where(col("pred") === s"<${V}property>").count() > 0L)
  }

  /** Run `f`, then put `graft.fileAliases` back as it was before. */
  private def keepingAliases[A](f: => A): A = {
    val prev = sys.props.get("graft.fileAliases")
    try f
    finally prev match {
      case Some(v) => sys.props("graft.fileAliases") = v
      case None => sys.props.remove("graft.fileAliases")
    }
  }

  test("the 4 sportal scripts run verbatim (binsearch SERVICE remapped)") {
    keepingAliases {
      graft.ops.SportalSuite.scriptFixture(spark, TestSpark.sf0001)
      // qb2: COUNT(DISTINCT class) via file SERVICE on the dnb snapshot
      val qb2 = Sportal.runScript("sportal-qb2", trip)
      assert(soleInt(qb2) === nClasses)
      // qe2 / qe2-mem: identical per-(class,property) triple counts, one
      // via file SERVICE, one in-memory over the passed frame (multiset
      // of (property, triples) pairs — ?c is the reference's
      // not-projected quirk, so the class itself is suppressed)
      def stats(df: DataFrame): Seq[(String, Long)] = {
        val rows = df.collect().map(r => (r.getAs[String]("subj"),
          r.getAs[String]("pred"), r.getAs[String]("obj")))
        val propOf = rows.collect {
          case (s, p, o) if p == s"<${V}property>" => (s, o) }.toMap
        rows.collect { case (s, p, o) if p == s"<${V}triples>" =>
          (propOf(s), termInt(o)) }.toSeq.sorted
      }
      val svc = stats(Sportal.runScript("sportal-qe2", trip))
      val mem = stats(Sportal.runScript("sportal-qe2-mem", trip))
      assert(svc.nonEmpty && svc === mem)
      // qf10: objectTypes partitions (its s: is example.org/sportal#) —
      // typed objects exist in the fixture
      val qf10 = Sportal.runScript("sportal-qf10", trip)
      assert(qf10.where(col("pred") ===
        "<http://www.example.org/sportal#objectClass>").count() > 0L)
    }
  }

  test("scriptFixture adds its sorttest alias and keeps the caller's others") {
    keepingAliases {
      sys.props("graft.fileAliases") = "/x=/y"
      graft.ops.SportalSuite.scriptFixture(spark, TestSpark.sf0001)
      val aliases = graft.rules.ConstructParser.fileAliases.toMap
      assert(aliases.get("/x") === Some("/y"))
      assert(aliases.get("/home/raven/tmp/sorttest").exists(
        _.contains("graft_sorttest_")))
      // a second call replaces its own pair instead of appending another
      graft.ops.SportalSuite.scriptFixture(spark, TestSpark.sf0001)
      assert(graft.rules.ConstructParser.fileAliases.size === 2)
    }
  }

  test("scriptFixture's driver write refuses a data-scale frame (loud bound)") {
    val root = java.nio.file.Files.createTempDirectory("graft_guard")
    val big = trip // any frame larger than the tiny bound we pass
    val ex = intercept[IllegalArgumentException] {
      graft.ops.SportalSuite.writeSortedNt(big, root, maxTriples = 3)
    }
    assert(ex.getMessage.contains("fixture"))
    // nothing was collected or written past the guard
    assert(!java.nio.file.Files.exists(root.resolve("sorted.nt")))
    // and the same frame under the bound writes fine
    graft.ops.SportalSuite.writeSortedNt(big.limit(3), root, maxTriples = 3)
    assert(java.nio.file.Files.exists(root.resolve("sorted.nt")))
  }

  test("fusedQfCounts equals the eight verbatim raw qf queries exactly") {
    val fused = graft.rules.Sportal.fusedQfCounts(trip).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val raw = (1 to 8).flatMap { i =>
      Sportal.runRaw(s"qf$i", trip).distinct().collect()
        .map(r => (r.getAs[String]("subj"), r.getAs[String]("pred"),
          r.getAs[String]("obj"), r.getAs[String]("graph")))
    }.toSet
    assert(fused === raw)
    assert(fused.size === 8)
  }
}
