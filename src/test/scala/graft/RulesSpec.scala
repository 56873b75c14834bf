package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.Transcripts
import graft.rules.TranscriptRules
import graft.functions.RdfTerms

class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("transcript derivation is deterministic and well-formed") {
    val t = Transcripts(spark, TestSpark.sf0001).cache()
    assert(t.count() === 1000)
    // turn_idx dense per conversation starting at 0
    val bad = t.groupBy("conv_id")
      .agg(min("turn_idx").as("mn"), max("turn_idx").as("mx"),
        count("*").as("n"))
      .filter($"mn" =!= 0 || $"mx" =!= $"n" - 1)
    assert(bad.count() === 0)
    assert(t.filter($"role".isin("user", "assistant", "system", "tool"))
      .count() === 1000)
    // deterministic across re-derivation
    val again = Transcripts(spark, TestSpark.sf0001)
    assert(t.exceptAll(again).count() === 0)
    assert(again.exceptAll(t).count() === 0)
  }

  test("rule layer emits well-formed N-Triples terms") {
    val tr = TranscriptRules.triples(Transcripts(spark, TestSpark.sf0001))
      .cache()
    val n = tr.count()
    assert(n > 6000) // ≥6 triples per turn
    assert(tr.filter(!$"subj".startsWith("<")).count() === 0)
    assert(tr.filter(!$"pred".startsWith("<")).count() === 0)
    assert(tr.filter(!$"graph".startsWith("<")).count() === 0)
    assert(tr.filter(!($"obj".startsWith("<") || $"obj".startsWith("\"")))
      .count() === 0)
    // unbound-template suppression: tool triples only where tool set
    val toolTriples = tr.filter($"pred" === "<http://graft.io/p/tool>").count()
    val toolTurns = Transcripts(spark, TestSpark.sf0001)
      .filter($"tool".isNotNull).count()
    assert(toolTriples === toolTurns)
  }

  test("parsed CONSTRUCT text == hand-built rules, triple for triple") {
    val t = Transcripts(spark, TestSpark.sf0001)
    val hand = TranscriptRules.triples(t)
    val parsed = TranscriptRules.triplesFromText(t)
    assert(parsed.count() === hand.count())
    assert(parsed.exceptAll(hand).count() === 0)
    assert(hand.exceptAll(parsed).count() === 0)
  }

  test("CONSTRUCT parser: FILTER, literals, equality, unsupported fails") {
    import graft.rules.{ConstructParser, RuleCompiler}
    val in = Seq(("x", 1L, "keep"), ("y", 2L, "drop"))
      .toDF("id", "v", "mark")
    val q =
      """PREFIX ex: <http://ex.org/>
        |CONSTRUCT { GRAPH ex:g { ?s ex:v ?v . ?s ex:lit "const" . } }
        |WHERE {
        |  BIND(IRI(CONCAT("http://ex.org/", ?id)) AS ?s)
        |  FILTER(?mark = "keep" && BOUND(?v))
        |}""".stripMargin
    val out = RuleCompiler.compile(in, ConstructParser.parse(q))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rows === Set(
      ("<http://ex.org/x>", "<http://ex.org/v>", "\"1\"", "<http://ex.org/g>"),
      ("<http://ex.org/x>", "<http://ex.org/lit>", "\"const\"", "<http://ex.org/g>")))
    intercept[IllegalArgumentException](
      ConstructParser.parse("CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }"))
  }

  test("BGP text WHERE equals the hand-built Bgp composition") {
    import graft.rules.{ConstructParser, Rule, RuleCompiler, TripleTemplate}
    import graft.ops.Bgp
    val t = TranscriptRules.triples(Transcripts(spark, TestSpark.sf0001))
    val P = "http://graft.io/p/"
    val q =
      s"""PREFIX p: <$P>
         |PREFIX ex: <http://ex.org/>
         |CONSTRUCT { ?a ex:nextRole ?role . ?a ex:nextTool ?tool . }
         |WHERE {
         |  ?a p:next ?b .
         |  ?b p:role ?role .
         |  OPTIONAL { ?b p:tool ?tool . }
         |  FILTER(?role != "assistant")
         |}""".stripMargin
    val viaText = ConstructParser.parseConstruct(q).run(t)
    val bindings = Bgp.optional(
        Bgp.join(
          Bgp.pattern(t, Right("a"), Left(s"<${P}next>"), Right("b")),
          Bgp.pattern(t, Right("b"), Left(s"<${P}role>"), Right("role"))),
        Bgp.pattern(t, Right("b"), Left(s"<${P}tool>"), Right("tool")))
      .filter($"role" =!= "\"assistant\"")
    val G = lit("<urn:x-arq:DefaultGraph>")
    val hand = RuleCompiler.compile(bindings, Seq(Rule("r", lit(true), Seq(
      TripleTemplate($"a", lit("<http://ex.org/nextRole>"), $"role", G),
      TripleTemplate($"a", lit("<http://ex.org/nextTool>"), $"tool", G)))))
    assert(viaText.count() === hand.count())
    assert(viaText.exceptAll(hand).count() === 0)
    assert(hand.exceptAll(viaText).count() === 0)
    // legacy parse() refuses a BGP WHERE loudly
    intercept[IllegalArgumentException](ConstructParser.parse(q))
  }

  test("BGP text: UNION/MINUS/EXISTS/GRAPH shapes compile and misuse fails") {
    import graft.rules.ConstructParser
    val t = TranscriptRules.triples(Transcripts(spark, TestSpark.sf0001))
    val P = "http://graft.io/p/"
    // GRAPH var binds the graph position; EXISTS is a semi join
    val g =
      s"""PREFIX p: <$P>
         |PREFIX ex: <http://ex.org/>
         |CONSTRUCT { GRAPH ?g { ?t ex:roleIn ?role . } }
         |WHERE { GRAPH ?g { ?t p:role ?role . }
         |        FILTER EXISTS { ?t p:tool ?x . } }""".stripMargin
    val out = ConstructParser.parseConstruct(g).run(t)
    val expected = t.filter($"pred" === s"<${P}role>").alias("r")
      .join(t.filter($"pred" === s"<${P}tool>").select($"subj").distinct().alias("x"),
        $"r.subj" === $"x.subj", "left_semi")
      .count()
    assert(out.count() === expected)
    // graph var flows into the emitted quad
    assert(out.filter(!$"graph".startsWith("<http://graft.io/g/")).count() === 0)
    // OPTIONAL with no preceding pattern fails loudly at run
    val bad = ConstructParser.parseConstruct(
      s"""PREFIX p: <$P>
         |CONSTRUCT { ?t <urn:p> ?x . }
         |WHERE { OPTIONAL { ?t p:tool ?x . } }""".stripMargin)
    intercept[IllegalArgumentException](bad.run(t))
  }

  test("SELECT text: equals SbsOps.mapGroupBy; misuse fails loudly") {
    import graft.rules.ConstructParser
    val in = Seq(("a", 1, 1.5), ("a", 2, 2.5), ("b", 1, 10.0))
      .toDF("k", "u", "v")
    val got = ConstructParser.parseSelect(
      """SELECT ?k (COUNT(*) AS ?n) (ROUND(SUM(?v), 2) AS ?sv)
        |       (COUNT(DISTINCT ?u) AS ?nu) (GROUP_CONCAT(?k; SEPARATOR=",") AS ?ks)
        |{} GROUP BY ?k ORDER BY DESC(?n)""".stripMargin).run(in)
    val rows = got.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getString(4)))
    assert(rows.toSeq === Seq(("a", 2L, 4.0d, 2L, "a,a"), ("b", 1L, 10.0d, 1L, "b")))
    // plain projection + LIMIT/OFFSET
    val proj = ConstructParser.parseSelect(
      "SELECT ?u WHERE { FILTER(?k = \"a\") } ORDER BY ?u LIMIT 1 OFFSET 1").run(in)
    assert(proj.collect().map(_.getInt(0)).toSeq === Seq(2))
    // AVG/MIN/MAX/SAMPLE over a global (no GROUP BY) aggregate
    val glob = ConstructParser.parseSelect(
      """SELECT (ROUND(AVG(?v), 2) AS ?a) (MIN(?u) AS ?mn) (MAX(?u) AS ?mx)
        |       (SAMPLE(?k) AS ?s) {}""".stripMargin).run(in).collect().head
    assert((glob.getDouble(0), glob.getInt(1), glob.getInt(2), glob.getString(3))
      === (4.67d, 1, 2, "a"))
    // non-aggregated var outside GROUP BY fails loudly
    intercept[IllegalArgumentException](ConstructParser.parseSelect(
      "SELECT ?u (COUNT(*) AS ?n) {} GROUP BY ?k").run(in))
  }

  test("statement sequence parses with prefix carry-over across statements") {
    import graft.rules.{ConstructParser, RuleCompiler}
    val seq =
      """PREFIX ex: <http://ex.org/>
        |CONSTRUCT { GRAPH ex:g1 { ?s ex:first "1" . } }
        |WHERE { BIND(IRI(CONCAT("http://ex.org/", ?id)) AS ?s) }
        |# second statement reuses ex: AND adds a new prefix
        |PREFIX p2: <http://p2.org/>
        |CONSTRUCT { GRAPH p2:g2 { ?s ex:second "2" . } }
        |WHERE { BIND(IRI(CONCAT("http://ex.org/", ?id)) AS ?s) }
        |""".stripMargin
    val stmts = graft.rules.ConstructParser.parseSequence(seq)
    assert(stmts.size === 2)
    val in = Seq("a").toDF("id")
    val out1 = RuleCompiler.compile(in, stmts(0)).collect()
    val out2 = RuleCompiler.compile(in, stmts(1)).collect()
    assert(out1.head.getString(3) === "<http://ex.org/g1>")
    assert(out2.head.getString(1) === "<http://ex.org/second>") // ex: carried
    assert(out2.head.getString(3) === "<http://p2.org/g2>")
  }

  test("NULL dynamic array suppresses only its own rule, not the row") {
    import graft.rules.{Rule, RuleCompiler, TripleTemplate}
    val in = Seq(("a", 1), ("b", 2)).toDF("id", "v")
    val fixedRule = Rule("fixed", lit(true), Seq(TripleTemplate(
      concat(lit("<s/"), $"id", lit(">")), lit("<p>"), lit("\"x\""), lit("<g>"))))
    // dynamic expression that is NULL for id = "a"
    val dyn = when($"id" =!= "a",
      array(struct(lit("<sd>").as("s"), lit("<pd>").as("p"),
        lit("\"d\"").as("o"), lit("<g>").as("g"))))
    val nullDynRule = Rule("dyn", lit(true), Nil, Some(dyn))
    val out = RuleCompiler.compile(in, Seq(fixedRule, nullDynRule))
    // row "a": fixed triple must SURVIVE the null dynamic array
    assert(out.filter($"subj" === "<s/a>").count() === 1)
    assert(out.count() === 3) // 2 fixed + 1 dynamic
  }

  test("extraction is deterministic under arbitrary repartitioning") {
    val t = Transcripts(spark, TestSpark.sf0001)
    val a = TranscriptRules.triples(t)
    val b = TranscriptRules.triples(t.repartition(7))
    val c = TranscriptRules.triples(t.repartition(3, $"role"))
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    assert(a.exceptAll(c).count() === 0)
  }

  test("exact dedup is idempotent: deduped corpus has only singleton groups") {
    import graft.dedup.Dedup
    val corpus = graft.ops.TrainingSuite.dupCorpus(spark, TestSpark.sf0001)
    val reps = corpus.join(
      Dedup.exact(corpus).filter($"doc_id" === $"rep_id").select("doc_id"),
      "doc_id")
    val again = Dedup.exact(reps)
    assert(again.filter($"group_size" =!= 1).count() === 0)
    assert(again.filter($"doc_id" =!= $"rep_id").count() === 0)
  }

  test("ntEscape handles quotes, newlines, tabs, backslashes") {
    val df = Seq("""a"b""", "a\nb", "a\tb", "a\\b", "plain", "a\rb")
      .toDF("s").select(RdfTerms.strLit($"s").as("l"))
    val got = df.as[String].collect().toSet
    assert(got === Set(
      "\"a\\\"b\"", "\"a\\nb\"", "\"a\\tb\"", "\"a\\\\b\"",
      "\"plain\"", "\"a\\rb\""))
  }

  test("graphNameForSubject crafting rules") {
    val df = Seq("<http://x/y>", "_:b0", "\"hi there\"").toDF("t")
      .select(RdfTerms.graphNameForSubject($"t").as("g"))
    val got = df.as[String].collect().toSet
    assert(got.contains("<http://x/y>"))
    assert(got.contains("<urn:bnode:b0>"))
    assert(got.exists(_.startsWith("<urn:literal:")))
  }

  test("transcripts over a PARTITIONED documents layout (r10 regression: " +
      "the driver-side footer count must recurse into k=v subdirectories)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part_sf").toString
    try {
      val src = TestSpark.sf0001
      spark.read.parquet(s"$src/events.parquet")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("part", col("doc_id") % 3)
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$dir/documents.parquet")
      // leftovers of interrupted writes: Spark's scan skips hidden
      // (`_`/`.`-prefixed) DIRECTORIES at every level, so the footer count
      // must not see their parts either
      val docs = java.nio.file.Paths.get(s"$dir/documents.parquet")
      val part = java.nio.file.Files.list(docs.resolve("part=0"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      for (leftover <- Seq("_temporary/0", ".spark-staging-1/part=0")) {
        val d = java.nio.file.Files.createDirectories(docs.resolve(leftover))
        java.nio.file.Files.copy(part, d.resolve("part-00000-leftover.parquet"))
      }
      val t = Transcripts(spark, dir)
      val base = Transcripts(spark, src)
      assert(t.exceptAll(base).count() === 0)
      assert(base.exceptAll(t).count() === 0)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
