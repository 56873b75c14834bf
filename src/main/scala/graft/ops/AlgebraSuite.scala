package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{RdfIO, SyntheticQuads, Transcripts, TrigChunker}
import graft.rules.TranscriptRules
import graft.functions.Macros

/** SPARQL algebra (BGP joins), CSV/XML scalar functions, macro expansion,
  * and the N-Quads source/sink roundtrip — SURVEY.md §2.4/§2.8/§2.1.
  */
object AlgebraSuite {

  private val P = "http://graft.io/p/"

  private def trip(s: SparkSession, dir: String): DataFrame =
    TranscriptRules.triples(Transcripts(s, dir))

  private def customer(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/customer.parquet")

  /** One row, zero columns — the source frame for PF-only statements. */
  private def unit(s: SparkSession) =
    graft.rules.ConstructParser.unitFrame(s)

  /** Deterministic on-disk git repo for `ngs_git`: config-isolated
    * (`GIT_CONFIG_GLOBAL/SYSTEM=/dev/null`), fixed identity and epoch
    * author/committer dates make the two commit ids — and so the graph
    * names — byte-stable across machines, so the oracle pins them as
    * constants. Built once per JVM; a marker file skips rebuilds.
    */
  private[graft] lazy val gitFixtureFile: String = {
    val base = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_git_fixture")
    val data = base.resolve("data.ttl")
    val marker = base.resolve(".graft_done")
    if (!java.nio.file.Files.exists(marker)) {
      def rm(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          if (java.nio.file.Files.isDirectory(p)) {
            val s = java.nio.file.Files.list(p)
            try s.iterator().forEachRemaining(rm) finally s.close()
          }
          java.nio.file.Files.deleteIfExists(p)
        }
      rm(base)
      java.nio.file.Files.createDirectories(base)
      def git(date: Option[String], args: String*): Unit = {
        val pb = new ProcessBuilder(
          (Seq("git", "-C", base.toString) ++ args): _*)
        val env = pb.environment()
        env.put("GIT_CONFIG_GLOBAL", "/dev/null")
        env.put("GIT_CONFIG_SYSTEM", "/dev/null")
        date.foreach { d =>
          env.put("GIT_AUTHOR_DATE", d); env.put("GIT_COMMITTER_DATE", d)
        }
        val p = pb.start()
        p.getOutputStream.close()
        val out = new String(p.getInputStream.readAllBytes())
        val err = new String(p.getErrorStream.readAllBytes())
        require(p.waitFor() == 0,
          s"git fixture: ${args.mkString(" ")} failed: ${err.trim} $out")
      }
      git(None, "init", "-q", ".")
      git(None, "config", "user.name", "graft")
      git(None, "config", "user.email", "graft@example.org")
      git(None, "config", "commit.gpgsign", "false")
      java.nio.file.Files.writeString(data, "<urn:a> <urn:p> \"one\" .\n")
      git(None, "add", "data.ttl")
      git(Some("1700000000 +0000"), "commit", "-q", "-m", "r1")
      java.nio.file.Files.writeString(data,
        "<urn:a> <urn:p> \"one\" .\n<urn:b> <urn:p> \"two\" .\n")
      git(None, "add", "data.ttl")
      git(Some("1700000100 +0000"), "commit", "-q", "-m", "r2")
      java.nio.file.Files.createFile(marker)
    }
    data.toString
  }

  /** Deterministic customers CSV on tmp (shared by csv_scan, csv_scan_pf
    * and url_text — ONE writer, one layout).
    */
  private def csvFixture(s: SparkSession, dir: String): String = {
    val path = sys.props("java.io.tmpdir") +
      s"/graft_csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.csv"
    val rows = customer(s, dir)
      .select(col("c_custkey").cast("long"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey").collect()
    val sb = new StringBuilder("k,name,seg\n")
    rows.foreach(r =>
      sb.append(r.getLong(0)).append(',').append(r.getString(1))
        .append(',').append(r.getString(2)).append('\n'))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
    path
  }

  /** Deterministic fixture TREE for fs:find / SERVICE ?file / FROM
    * <file>: one `.nt` per nation row at the top level, region `.nt`
    * files in a NESTED dir (recursion evidence), plus a non-RDF csv the
    * probe must exclude. Shared by fs_find, service_var and from_file —
    * ONE writer, one layout.
    */
  private def fsTreeFixture(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_fstree_$tag")
    // clear first: stale files from an older layout would surface in
    // fs:find listings and break (or worse, silently satisfy) the oracle
    if (java.nio.file.Files.isDirectory(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    java.nio.file.Files.createDirectories(root.resolve("nested"))
    s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .orderBy("n_nationkey").collect()
      .foreach { r =>
        java.nio.file.Files.writeString(root.resolve(s"n_${r.getLong(0)}.nt"),
          s"""<http://ex.org/n/${r.getLong(0)}> <http://ex.org/lbl> "${r.getString(1)}" .\n""")
      }
    s.read.parquet(s"$dir/region.parquet")
      .select(col("r_regionkey").cast("long"), col("r_name"))
      .orderBy("r_regionkey").collect()
      .foreach { r =>
        java.nio.file.Files.writeString(
          root.resolve("nested").resolve(s"r_${r.getLong(0)}.nt"),
          s"""<http://ex.org/r/${r.getLong(0)}> <http://ex.org/lbl> "${r.getString(1)}" .\n""")
      }
    java.nio.file.Files.writeString(root.resolve("notes.csv"), "a,b\n1,2\n")
    root.toString
  }

  /** Quad seed for the canned queries: customer→nation links + nation
    * labels in the DEFAULT graph (nation nodes are INTERMEDIATE — both
    * subject and object — the tree.rq targets), region labels in one
    * NAMED graph.
    */
  private def cannedSeed(s: SparkSession, dir: String): DataFrame = {
    val dg = "<urn:x-arq:DefaultGraph>"
    customer(s, dir).select(lit(dg).as("graph"),
        concat(lit("<http://ex.org/c/"), col("c_custkey"), lit(">")).as("subj"),
        lit("<http://ex.org/in>").as("pred"),
        concat(lit("<http://ex.org/n/"), col("c_nationkey"), lit(">")).as("obj"))
      .unionAll(s.read.parquet(s"$dir/nation.parquet").select(
        lit(dg).as("graph"),
        concat(lit("<http://ex.org/n/"), col("n_nationkey"), lit(">")).as("subj"),
        lit("<http://ex.org/name>").as("pred"),
        concat(lit("\""), col("n_name"), lit("\"")).as("obj")))
      .unionAll(s.read.parquet(s"$dir/region.parquet").select(
        lit("<http://ex.org/g/r>").as("graph"),
        concat(lit("<http://ex.org/r/"), col("r_regionkey"), lit(">")).as("subj"),
        lit("<http://ex.org/rname>").as("pred"),
        concat(lit("\""), col("r_name"), lit("\"")).as("obj")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bgp_star_join" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.join(
        Bgp.pattern(t, Right("t"), Left(s"<${P}role>"), Right("role")),
        Bgp.pattern(t, Right("t"), Left(s"<${P}tool>"), Right("tool")))
    }),
    "bgp_optional" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.optional(
        Bgp.pattern(t, Right("t"), Left(s"<${P}role>"), Right("role")),
        Bgp.pattern(t, Right("t"), Left(s"<${P}tool>"), Right("tool")))
    }),
    "bgp_minus" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.minus(
        Bgp.pattern(t, Right("t"), Left(s"<${P}role>"), Right("role")),
        Bgp.pattern(t, Right("t"), Left(s"<${P}tool>"), Right("tool")))
    }),
    "bgp_exists" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.exists(
        Bgp.pattern(t, Right("t"), Left(s"<${P}role>"), Right("role")),
        Bgp.pattern(t, Right("t"), Left(s"<${P}next>"), Right("nxt")))
    }),
    "bgp_path_join" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.join(
        Bgp.pattern(t, Right("a"), Left(s"<${P}next>"), Right("b")),
        Bgp.pattern(t, Right("b"), Left(s"<${P}role>"), Right("role")))
        .select(col("a"), col("b"), col("role"))
    }),
    "bgp_union" -> ((s, dir) => {
      val t = trip(s, dir)
      Bgp.union(
        Bgp.pattern(t, Right("t"), Left(s"<${P}role>"), Right("role")),
        Bgp.pattern(t, Right("t"), Left(s"<${P}tool>"), Right("tool")))
    }),
    // --- SPARQL CONSTRUCT text with BGP WHERE (the reference's normal
    // `integrate` query shape, SparqlIntegrateCmdImpls.java:337-345;
    // example.sparql:23-37 matches BGPs against the dataset) -------------
    "construct_bgp" -> ((s, dir) => {
      // star + path shape with OPTIONAL and a term-comparison FILTER
      val q =
        """PREFIX p: <http://graft.io/p/>
          |PREFIX ex: <http://ex.org/>
          |CONSTRUCT { ?a ex:nextRole ?role . ?a ex:nextTool ?tool . }
          |WHERE {
          |  ?a p:next ?b .
          |  ?b p:role ?role .
          |  OPTIONAL { ?b p:tool ?tool . }
          |  FILTER(?role != "assistant")
          |}""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(trip(s, dir))
    }),
    "construct_bgp_union" -> ((s, dir) => {
      val q =
        """PREFIX p: <http://graft.io/p/>
          |PREFIX ex: <http://ex.org/>
          |CONSTRUCT { ?t ex:flag ?v . }
          |WHERE {
          |  { ?t p:role ?v . } UNION { ?t p:tool ?v . }
          |  MINUS { ?t p:next ?x . }
          |}""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(trip(s, dir))
    }),
    "construct_bgp_graph" -> ((s, dir) => {
      // quad pattern (GRAPH ?g) + FILTER EXISTS, emitting into ?g
      val q =
        """PREFIX p: <http://graft.io/p/>
          |PREFIX ex: <http://ex.org/>
          |CONSTRUCT { GRAPH ?g { ?t ex:roleIn ?role . } }
          |WHERE {
          |  GRAPH ?g { ?t p:role ?role . }
          |  FILTER EXISTS { ?t p:tool ?x . }
          |}""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(trip(s, dir))
    }),
    // --- SPARQL 1.1 property paths from query text (§9; the reference
    // runs the full Jena path grammar in any integrate query) ------------
    "path_seq" -> ((s, dir) => {
      // inverse + sequence: ?b's predecessor's role
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?b ?r WHERE { ?b ^p:next/p:role ?r . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "path_alt" -> ((s, dir) => {
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?t ?v WHERE { ?t p:role|p:tool ?v . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "path_neg" -> ((s, dir) => {
      // negated property set (keeps only tool + next edges)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?s ?o
           |WHERE { ?s !(a|p:role|p:text|p:ts|p:conv|p:hasTurn) ?o . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "path_plus" -> ((s, dir) => {
      // transitive closure over the turn-chain (doubling self-joins)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?s ?o WHERE { ?s p:next+ ?o . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "path_graph_plus" -> ((s, dir) => {
      // closure inside GRAPH ?g: every join keyed on the graph, each
      // named graph walked independently
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s p:next+ ?o . } }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "path_star" -> ((s, dir) => {
      // closure + zero-length identity over every graph node
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?s ?o WHERE { ?s p:next* ?o . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "values_filter" -> ((s, dir) => {
      // inline data joins like any pattern (SPARQL 1.1 §10.2)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?t ?role WHERE {
           |  ?t p:role ?role .
           |  VALUES ?role { "user" "assistant" }
           |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "ask_text" -> ((s, dir) => {
      val q = s"""PREFIX p: <$P>
                 |ASK { ?s p:role "user" . }""".stripMargin
      graft.rules.ConstructParser.parseAsk(q).run(trip(s, dir))
    }),
    "ngs_ask_sparql" -> ((s, dir) => {
      // `ngs filter --sparql 'ASK {…}'`: keep graphs where the ASK's BGP
      // holds WITHIN the graph — here: two consecutive purchase-tool
      // turns (a 3-pattern same-graph join; selective on this corpus)
      val ask =
        s"""PREFIX p: <$P>
           |ASK { ?s p:tool "tool_purchase" . ?s p:next ?nx .
           |      ?nx p:tool "tool_purchase" . }""".stripMargin
      NgsOps.askFilterSparql(trip(s, dir), ask)
    }),
    "example_pipeline" -> ((s, dir) => {
      // the reference's flagship example.sparql, verbatim shape (CONSTRUCT
      // into a graph, bare WHERE-less group, json:parse + json:unnest
      // property function + json:path + URI(CONCAT(ENCODE_FOR_URI)));
      // only the url:text network fetch is replaced by a local binding
      // (?src column), since this engine has no egress
      import s.implicits._
      val rows = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .orderBy("n_nationkey").collect()
      val json = rows.map { r =>
        val k = r.getLong(0)
        s"""{"id":"n$k","name":"${r.getString(1)}","position":[$k.5,$k.25]}"""
      }.mkString("[", ",", "]")
      val src = Seq(json).toDF("src")
      val q =
        """PREFIX wgs: <http://www.w3.org/2003/01/geo/wgs84_pos#>
          |PREFIX q: <http://qrowd-project.eu/ontology/>
          |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
          |PREFIX eg: <http://example.org/>
          |PREFIX json: <http://jsa.aksw.org/fn/json/>
          |CONSTRUCT {
          |  GRAPH eg:myGraph {
          |    ?s
          |      a q:BikeStation ;
          |      q:id ?id ;
          |      rdfs:label ?name ;
          |      wgs:long ?x ;
          |      wgs:lat ?y ;
          |      .
          |  }
          |}
          |{
          |  BIND(json:parse(?src) AS ?json)
          |  ?json json:unnest ?i .
          |  BIND("http://qrowd-project.eu/resource/" AS ?ns)
          |  BIND(json:path(?i, "$.id") AS ?id)
          |  BIND(URI(CONCAT(?ns, ENCODE_FOR_URI(?id))) AS ?s)
          |  BIND(json:path(?i, "$.name") AS ?name)
          |  BIND(json:path(?i, "$.position[0]") AS ?x)
          |  BIND(json:path(?i, "$.position[1]") AS ?y)
          |}""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(src)
    }),
    "select_distinct_text" -> ((s, dir) => {
      val q = s"""PREFIX p: <$P>
                 |SELECT DISTINCT ?role WHERE { ?t p:role ?role . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "construct_where_short" -> ((s, dir) => {
      // CONSTRUCT WHERE shorthand (§16.2.3): pattern doubles as template
      val q = s"""PREFIX p: <$P>
                 |CONSTRUCT WHERE { ?s p:role ?o . }""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(trip(s, dir))
    }),
    "script_modify_text" -> ((s, dir) => {
      // combined DELETE/INSERT update: one WHERE binds both templates
      // against the pre-update dataset
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      val script =
        s"""PREFIX ex: <http://example.org/>
           |LOAD <file://$path> ;
           |DELETE { ?n ex:active ?x }
           |INSERT { GRAPH <urn:flags> { ?n ex:wasActive ?x } }
           |WHERE { ?n ex:active ?x }""".stripMargin
      graft.pipeline.Script.runSparql(s, script).dataset
    }),
    "from_graph_text" -> ((s, dir) => {
      // dataset clause (§13.2): FROM restricts the default graph that
      // un-GRAPHed patterns match
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?s ?o
           |FROM <http://graft.io/g/conv-000000000001>
           |WHERE { ?s p:role ?o . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "describe_text" -> ((s, dir) => {
      // DESCRIBE = subject-outgoing star of every matched resource
      val q =
        s"""PREFIX p: <$P>
           |DESCRIBE ?c WHERE { ?t p:conv ?c . ?t p:tool "tool_purchase" . }""".stripMargin
      graft.rules.ConstructParser.parseDescribe(q).run(trip(s, dir))
    }),
    "subselect_text" -> ((s, dir) => {
      // SPARQL 1.1 §12 subquery: per-conversation turn counts joined back
      // onto each turn
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?t ?conv ?n WHERE {
           |  ?t p:conv ?conv .
           |  { SELECT ?conv (COUNT(*) AS ?n)
           |    WHERE { ?x p:conv ?conv . } GROUP BY ?conv }
           |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "sparql_fns_text" -> ((s, dir) => {
      // the §17.4 function library FROM QUERY TEXT (binding-stream mode
      // over the customer table): string, numeric, hash, term, and
      // comparison/arithmetic operators in one oracled battery
      val q =
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?c_custkey ?f_concat ?f_strlen ?f_ucase ?f_lcase ?f_substr
          |       ?f_starts ?f_ends ?f_contains ?f_before ?f_after ?f_replace
          |       ?f_regex ?f_md5 ?f_sha256 ?f_if ?f_coalesce ?f_arith ?f_cmp
          |       ?f_strlang ?f_lang ?f_dt ?f_islit ?f_cast
          |WHERE {
          |  BIND(CONCAT(?c_name, "/", ?c_mktsegment) AS ?f_concat)
          |  BIND(STRLEN(?c_name) AS ?f_strlen)
          |  BIND(UCASE(?c_mktsegment) AS ?f_ucase)
          |  BIND(LCASE(?c_name) AS ?f_lcase)
          |  BIND(SUBSTR(?c_name, 1, 8) AS ?f_substr)
          |  BIND(STRSTARTS(?c_name, "Customer") AS ?f_starts)
          |  BIND(STRENDS(?c_name, "1") AS ?f_ends)
          |  BIND(CONTAINS(?c_mktsegment, "MACH") AS ?f_contains)
          |  BIND(STRBEFORE(?c_name, "#") AS ?f_before)
          |  BIND(STRAFTER(?c_name, "#") AS ?f_after)
          |  BIND(REPLACE(?c_name, "0+", "0") AS ?f_replace)
          |  BIND(REGEX(?c_name, "00[1-4]$") AS ?f_regex)
          |  BIND(MD5(?c_mktsegment) AS ?f_md5)
          |  BIND(SHA256(?c_name) AS ?f_sha256)
          |  BIND(IF(?c_mktsegment = "BUILDING", "b", "other") AS ?f_if)
          |  BIND(COALESCE(?c_name, ?c_mktsegment) AS ?f_coalesce)
          |  BIND((?c_custkey + 1) * 2 AS ?f_arith)
          |  BIND(?c_custkey > 100 && ?c_custkey <= 1400 AS ?f_cmp)
          |  BIND(STRLANG(?c_name, "en") AS ?f_strlang)
          |  BIND(LANG(?f_strlang) AS ?f_lang)
          |  BIND(DATATYPE(STRDT(?c_name, xsd:token)) AS ?f_dt)
          |  BIND(ISLITERAL(?f_strlang) AS ?f_islit)
          |  BIND(xsd:long(?c_custkey) AS ?f_cast)
          |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(customer(s, dir))
    }),
    "lateral_text" -> ((s, dir) => {
      // text-level LATERAL (Jena docs/query/lateral.md; the canned
      // shacl-targetClass.rq shape): a correlated AGGREGATE subselect —
      // quad count per predicate — decorrelated into an exposed-var
      // equi-join with per-key grouping
      val q =
        """SELECT ?p ?n WHERE {
          |  { SELECT DISTINCT ?p { ?s ?p ?o } }
          |  LATERAL { SELECT (COUNT(*) AS ?n) { ?s2 ?p ?o2 } }
          |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "select_having" -> ((s, dir) => {
      // aggregate-level filter (SPARQL 1.1 §11.3): keep only roles with
      // more than 1500 turns
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?role (COUNT(*) AS ?n)
           |WHERE { ?t p:role ?role . }
           |GROUP BY ?role
           |HAVING (COUNT(*) > 1500)
           |ORDER BY ?role""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    // SELECT text over a BGP WHERE: star join + GROUP BY from query text
    "select_bgp_text" -> ((s, dir) => {
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?role (COUNT(*) AS ?n)
           |WHERE { ?t p:role ?role . ?t p:tool ?tool . }
           |GROUP BY ?role ORDER BY ?role""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "csv_scan_pf" -> ((s, dir) => {
      // csv:parse FILE form via the text front door — the reference's
      // streaming CSV scan (docs/examples/README.md:390-413, csv.sparql
      // statement 1); fixture shared with csv_scan
      val path = csvFixture(s, dir)
      graft.rules.ConstructParser.parseSelect(
        s"SELECT * { <file:$path> csv:parse (?rowJson \"excel -h\") }")
        .run(unit(s))
    }),
    "url_text" -> ((s, dir) => {
      // url:text over a LOCAL file (docs/examples/url-local-file.sparql;
      // the network forms stay scoped out): whole file body as one
      // literal binding — fixture shared with csv_scan
      graft.rules.ConstructParser.parseSelect(
        s"SELECT * { <file:${csvFixture(s, dir)}> url:text ?str }")
        .run(unit(s))
    }),
    "csv_inline_pf" -> ((s, dir) =>
      // csv.sparql statement 2 VERBATIM: inline CSV literal
      graft.rules.ConstructParser.parseSelect(
        "SELECT * {\n\"\"\"fn,ln\nMary,Major\nJohn,Doe\"\"\" csv:parse (?rowJson \"excel -h\")\n}")
        .run(unit(s))),
    "xml_unnest_text" -> ((s, dir) =>
      // xml-unnest.sparql VERBATIM: xsd:xml literal + xml:unnest PF
      graft.rules.ConstructParser.parseSelect(
        "SELECT * {\n  \"\"\"<ul id=\"ul1\"><li>item</li></ul>\"\"\"^^xsd:xml xml:unnest (\"//li\" ?item)\n}")
        .run(unit(s))),
    "example_io" -> ((s, dir) => {
      // io.sparql statement 1 VERBATIM (eg: prelude, BIND-only UNION
      // branch = unit solution, [] anonymous subject), seeded with
      // customer-derived eg:value triples
      val seed = customer(s, dir).select(
        concat(lit("<http://www.example.org/c"), col("c_custkey"), lit(">")).as("subj"),
        lit("<http://www.example.org/value>").as("pred"),
        concat(lit("\""), col("c_custkey"),
          lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")).as("obj"))
      val q =
        """CONSTRUCT {
          |  ?s eg:value ?o
          |}
          |{
          |  {
          |    BIND(1 AS ?o)
          |  }
          |  UNION {
          |    [] eg:value ?y
          |    BIND(?y + 1 AS ?o)
          |  }
          |  BIND(IRI(CONCAT(STR(eg:), 's', STR(?o))) AS ?s)
          |}""".stripMargin
      graft.rules.ConstructParser.parseConstruct(q).run(seed)
    }),
    "graphql_query" -> ((s, dir) =>
      // GraphQL front door (docs/graphql/index.md): nested entity JSON
      // per turn — @bind id, @one role, @many tools, nested next-turn
      // object via the implicit lateral-join rule
      graft.graphql.GraphQl.compile(trip(s, dir),
        """query Q @prefix(map: {p: "http://graft.io/p/", g: "http://graft.io/"}) {
          |  turns @pattern(of: "?t a g:Turn", from: "t", to: "t") {
          |    id @bind(of: "?t")
          |    role @pattern(of: "?t p:role ?r", from: "t", to: "r") @one
          |    tools @pattern(of: "?t p:tool ?tool", from: "t", to: "tool")
          |    next @pattern(of: "?t p:next ?n", from: "t", to: "n") {
          |      nrole @pattern(of: "?n p:role ?nr", from: "n", to: "nr") @one
          |    }
          |  }
          |}""".stripMargin)),
    "service_file" -> ((s, dir) => {
      // SERVICE against a LOCAL FILE endpoint (docs/examples/
      // README.md:630-650): the inner group evaluates against the
      // file's own dataset, then joins into the outer solutions. The
      // fixture is a deterministic N-Triples dump of the nation table.
      val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
      val path = sys.props("java.io.tmpdir") + s"/graft_service_$tag.nt"
      val nat = s.read.parquet(s"$dir/nation.parquet")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .orderBy("n_nationkey").collect()
      val sb = new StringBuilder
      nat.foreach(r => sb.append("<http://ex.org/n/").append(r.getLong(0))
        .append("> <http://ex.org/lbl> \"").append(r.getString(1))
        .append("\" .\n"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
      val outer = customer(s, dir).select(
        concat(lit("<http://ex.org/c/"), col("c_custkey"), lit(">")).as("subj"),
        lit("<http://ex.org/nat>").as("pred"),
        concat(lit("<http://ex.org/n/"), col("c_nationkey"), lit(">")).as("obj"))
      val q =
        s"""PREFIX ex: <http://ex.org/>
           |SELECT ?c ?nat ?lbl WHERE {
           |  ?c ex:nat ?nat .
           |  SERVICE <file:$path> { ?nat ex:lbl ?lbl . }
           |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(outer)
    }),
    "fs_find" -> ((s, dir) => {
      // fs:find + fs:probeRdf + afn:localname (docs/examples/
      // fs-list-rdf-files.sparql): recursive listing of the fixture
      // tree, non-RDF files probed out, names projected so the result
      // is tmpdir-independent
      val root = fsTreeFixture(s, dir)
      graft.rules.ConstructParser.parseSelect(
        s"""SELECT ?name {
           |  <file:$root> fs:find ?file
           |  FILTER(fs:probeRdf(?file))
           |  BIND(afn:localname(?file) AS ?name)
           |}""".stripMargin).run(unit(s))
    }),
    "service_var" -> ((s, dir) => {
      // SERVICE ?file over fs:find output (docs/examples/
      // fs-query-rdf-files.sparql): the inner group evaluates once per
      // DISTINCT probed file, results unioned and joined back
      val root = fsTreeFixture(s, dir)
      graft.rules.ConstructParser.parseSelect(
        s"""PREFIX ex: <http://ex.org/>
           |SELECT ?s ?o {
           |  <file:$root> fs:find ?file
           |  FILTER(fs:probeRdf(?file))
           |  SERVICE ?file { ?s ex:lbl ?o }
           |}""".stripMargin).run(unit(s))
    }),
    "from_file" -> ((s, dir) => {
      // FROM <local file> (docs/examples/test.sparql:2): each file loads
      // as a document merged into the DEFAULT graph, hiding the session
      // dataset
      import s.implicits._
      val root = fsTreeFixture(s, dir)
      val session = Seq(("<http://g/1>", "<http://hidden/s>",
        "<http://hidden/p>", "\"hidden\"")).toDF("graph", "subj", "pred", "obj")
      graft.rules.ConstructParser.parseSelect(
        s"""SELECT ?s ?o
           |FROM <file:$root/nested/r_0.nt>
           |FROM <file:$root/nested/r_1.nt>
           |{ ?s ?p ?o }""".stripMargin).run(session)
    }),
    "canned_spogspo" -> ((s, dir) =>
      // canned classpath query (docs/integrate/canned-queries.md):
      // default-graph triples tagged with the default-graph IRI,
      // unioned with the named-graph quads
      graft.rules.ConstructParser
        .parseConstruct(CannedQueries("spogspo.rq")).run(cannedSeed(s, dir))),
    "canned_count" -> ((s, dir) =>
      graft.rules.ConstructParser
        .parseSelect(CannedQueries("count.rq")).run(cannedSeed(s, dir))),
    "canned_tree" -> ((s, dir) =>
      // tree.rq semantics as a distributed op: intermediate nodes
      // (subject ∩ object) become deterministic blank nodes
      CannedQueries.tree(cannedSeed(s, dir)
        .filter(col("graph") === "<urn:x-arq:DefaultGraph>")
        .select("subj", "pred", "obj"))),
    "canned_property_joins" -> ((s, dir) =>
      // property-joins.rq VERBATIM from the embedded reference bytes:
      // distributed self-join (object of ?p1 = subject of ?p2) under a
      // SubSelect-filled group with nested anonymous bnodes
      graft.rules.ConstructParser.parseConstruct(
        CannedQueries.resource("property-joins.rq")).run(trip(s, dir))),
    "canned_transpose" -> ((s, _) =>
      // test-transpose.rq VERBATIM: VALUES rows + OPTIONAL{BIND}
      graft.rules.ConstructParser.parseSelect(
        CannedQueries.resource("test-transpose.rq")).run(unit(s))),
    "lambda_call" -> ((s, dir) => {
      // norse:fn.of / fn.call lambdas from query TEXT (docs/examples/
      // README.md:522-550): free-var capture of a pattern var, params
      // from call args, plan-build inline expansion
      val seed = customer(s, dir).select(
        concat(lit("<http://ex.org/c/"), col("c_custkey"), lit(">")).as("subj"),
        lit("<http://www.example.org/name>").as("pred"),
        concat(lit("\""), col("c_name"), lit("\"")).as("obj"))
      graft.rules.ConstructParser.parseSelect(
        """PREFIX norse: <https://w3id.org/aksw/norse#>
          |SELECT ?c ?resultA ?resultB {
          |  ?c eg:name ?n
          |  BIND(norse:fn.of(?honorific, CONCAT(?honorific, ' ', STR(?n))) AS ?f)
          |  BIND(norse:fn.call(?f, "Mx.") AS ?resultA)
          |  BIND(norse:fn.call(?f, "Dr.") AS ?resultB)
          |}""".stripMargin).run(seed)
    }),
    "macro_ttl" -> ((s, dir) => {
      // udf:simpleDefinition macro loaded as DATA (docs/examples/
      // macro-example.sh + macros.ttl), expanded from query TEXT at
      // plan-build time over customer-derived quads
      graft.functions.Macros.loadTtl(
        """PREFIX udf: <https://w3id.org/aksw/norse#udf.>
          |PREFIX eg: <http://www.example.org/>
          |eg:greet udf:simpleDefinition ("CONCAT('Hello ', STR(?x), '!')" "x") .
          |""".stripMargin)
      val seed = customer(s, dir).select(
        concat(lit("<http://ex.org/c/"), col("c_custkey"), lit(">")).as("subj"),
        lit("<http://www.example.org/name>").as("pred"),
        concat(lit("\""), col("c_name"), lit("\"")).as("obj"))
      graft.rules.ConstructParser.parseSelect(
        "SELECT ?c ?greeting { ?c eg:name ?n BIND(eg:greet(?n) AS ?greeting) }")
        .run(seed)
    }),
    "csv_parse" -> ((s, dir) =>
      // csv:parse port: rows serialized as CSV lines, parsed back to typed
      // columns (reference: docs/examples/README.md:390-413)
      customer(s, dir)
        .select(concat_ws(",", col("c_custkey"), col("c_name"),
          col("c_mktsegment")).as("line"))
        .select(from_csv(col("line"),
          StructType(Seq(StructField("k", LongType),
            StructField("name", StringType), StructField("seg", StringType))),
          Map.empty[String, String]).as("r"))
        .select(col("r.k").as("k"), col("r.name").as("name"),
          col("r.seg").as("seg"))),
    "csv_scan" -> ((s, dir) => {
      // csv:parse as a real FILE source (docs/examples/README.md:390-413
      // streams CSV rows into bindings): deterministic fixture written
      // from customer, read back through the csv reader with a header
      s.read.option("header", "true")
        .schema("k BIGINT, name STRING, seg STRING").csv(csvFixture(s, dir))
    }),
    "xml_path" -> ((s, dir) =>
      // xml:path port (docs/examples/README.md:456-500): XML literal +
      // XPath scalar extraction
      customer(s, dir)
        .select(col("c_custkey"),
          concat(lit("<r><n>"), col("c_name"), lit("</n><s>"),
            col("c_mktsegment"), lit("</s></r>")).as("xml"))
        .select(col("c_custkey"),
          xpath_string(col("xml"), lit("/r/n")).as("name"),
          xpath_string(col("xml"), lit("/r/s")).as("seg"))),
    "construct_sequence" -> ((s, dir) => {
      // two-statement sequence, prefixes carrying over; outputs union to
      // one sink (reference integrate semantics)
      val seq =
        """PREFIX ex: <http://ex.org/>
          |CONSTRUCT { GRAPH ex:g { ?c ex:name ?name . } }
          |WHERE { BIND(IRI(CONCAT("http://ex.org/c/", STR(?c_custkey))) AS ?c)
          |        BIND(STR(?c_name) AS ?name) }
          |CONSTRUCT { GRAPH ex:g { ?c ex:segment ?seg . } }
          |WHERE { BIND(IRI(CONCAT("http://ex.org/c/", STR(?c_custkey))) AS ?c)
          |        BIND(STR(?c_mktsegment) AS ?seg)
          |        FILTER(?c_mktsegment != "BUILDING") }
          |""".stripMargin
      graft.pipeline.Script.runConstructSequence(customer(s, dir), seq)
    }),
    "sparql_fns" -> ((s, dir) =>
      // SPARQL 1.1 scalar battery (SURVEY §2.8: CONCAT/STR/STRLEN/UCASE/
      // LCASE/SUBSTR/STRSTARTS/CONTAINS/REPLACE/ABS/CEIL/FLOOR/ROUND/
      // SHA256/MD5/COALESCE/IF) — built-ins 1:1, exercised together
      customer(s, dir).select(col("c_custkey"),
        concat(col("c_name"), lit("/"), col("c_mktsegment")).as("f_concat"),
        length(col("c_name")).cast("long").as("f_strlen"),
        upper(col("c_mktsegment")).as("f_ucase"),
        lower(col("c_name")).as("f_lcase"),
        substring(col("c_name"), 1, 8).as("f_substr"),
        col("c_name").startsWith("Customer").as("f_strstarts"),
        col("c_mktsegment").contains("MACH").as("f_contains"),
        regexp_replace(col("c_name"), "0+", "0").as("f_replace"),
        abs(col("c_acctbal")).cast("double").as("f_abs"),
        ceil(col("c_acctbal")).cast("long").as("f_ceil"),
        floor(col("c_acctbal")).cast("long").as("f_floor"),
        round(col("c_acctbal"), 1).as("f_round"),
        sha2(col("c_name"), 256).as("f_sha256"),
        md5(col("c_mktsegment")).as("f_md5"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("none"))
          .as("f_coalesce"),
        when(col("c_custkey") % 2 === 0, lit("even")).otherwise(lit("odd"))
          .as("f_if"))),
    "macro_greet" -> ((s, dir) =>
      // macro expansion at plan-build time (macros.md example)
      customer(s, dir).select(col("c_custkey"),
        Macros.expand("greet", col("c_name")).as("greeting"))),
    "void_profile" -> ((s, dir) =>
      // VoID dataset profiling (reference use-case-sportal qb1-qb5):
      // triple count, distinct subjects/properties/objects, class count
      trip(s, dir).agg(
        count(lit(1)).as("n_triples"),
        countDistinct(col("subj")).as("n_subjects"),
        countDistinct(col("pred")).as("n_properties"),
        countDistinct(col("obj")).as("n_objects"),
        countDistinct(when(
          col("pred") === "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
          col("obj"))).as("n_classes"))),
    "json_entries" -> ((s, dir) =>
      // json:entries port (docs/examples/README.md:207-225)
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          explode(from_json(col("props"), MapType(StringType, StringType))))
        .select(col("event_id"), col("key"), col("value"))),
    "env_subst" -> ((s, dir) => {
      // <env:VAR> IRI substitution at plan build
      // (SparqlIntegrateCmdImpls.java:196-207)
      val q =
        """PREFIX ex: <http://ex.org/>
          |CONSTRUCT { GRAPH <env:TARGET_GRAPH> { ?c ex:name ?name . } }
          |WHERE {
          |  BIND(IRI(CONCAT("http://ex.org/c/", STR(?c_custkey))) AS ?c)
          |  BIND(STR(?c_name) AS ?name)
          |}""".stripMargin
      graft.rules.RuleCompiler.compile(customer(s, dir),
        graft.rules.ConstructParser.parse(q, Map("TARGET_GRAPH" -> "urn:graft:out")))
    }),
    "rdf_trig_scan" -> ((s, dir) => {
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      RdfIO.readTrig(s, path)
    }),
    "rdf_trig_chunked" -> ((s, dir) => {
      // document-parallel parse of ONE TriG file (minPartitions=8 forces
      // multi-chunk even on the small fixture); anon-bnode statements are
      // excluded because their fresh labels are chunk-scoped — the full
      // structural equality incl. bnodes is TrigChunkerSpec's job
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      TrigChunker.readTrigChunked(s, path, minPartitions = 8)
        .where(!col("pred").isin(
          "<http://example.org/meta>", "<http://example.org/rank>",
          "<http://example.org/tags>",
          "<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>",
          "<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>"))
    }),
    "rdf_roundtrip" -> ((s, dir) => {
      val path = sys.props("java.io.tmpdir") +
        s"/graft_rt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      RdfIO.writeNQuads(SyntheticQuads(s, dir).drop("idx"), path)
      RdfIO.readNQuads(s, path)
    }),
    "rdf_hdt_scan" -> ((s, dir) => {
      // HDT binary round-trip under the oracle: encode the transcript
      // triples as .hdt, scan it back through the auto-probe front door
      // (HDT is a triple SET — the oracle dedups to match). The encode is
      // memoized on its input tables like the RML fixtures (r8
      // precedent): repeated calls — the bench steady-state run in
      // particular — measure the READER, not fixture setup.
      val path = sys.props("java.io.tmpdir") +
        s"/graft_hdt_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.hdt"
      graft.Memo("fixture.hdt", Seq(s"$dir/events.parquet",
          s"$dir/documents.parquet"), s.sessionState.newHadoopConf()) {
        graft.sources.HdtIO.writeHdt(trip(s, dir), path)
      }
      RdfIO.readRdfAuto(s, path)
    }),
    // --- whole-script execution from text: LOAD + updates + query over
    // one mutable dataset (docs/integrate/index.md:17-60) ----------------
    "script_update_text" -> ((s, dir) => {
      graft.pipeline.Script.runSparql(s, scriptText(s, dir)).dataset
    }),
    "script_query_text" -> ((s, dir) => {
      graft.pipeline.Script.runSparql(s, scriptText(s, dir)).lastQuery.get
    }),
    "values_undef" -> ((s, dir) => {
      // UNDEF in VALUES (SPARQL §10.2): an unbound cell is compatible
      // with anything; joining an OPTIONAL-null var against a BOUND cell
      // binds it (solution merge)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?t ?role ?tool WHERE {
           |  ?t p:role ?role .
           |  OPTIONAL { ?t p:tool ?tool . }
           |  VALUES (?role ?tool) { ("user" UNDEF) (UNDEF "tool_search") }
           |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "select_agg_terms" -> ((s, dir) => {
      // aggregates over PATTERN-BOUND (term-typed) vars: SUM/AVG use the
      // numeric VALUE of numeric-typed literals; MIN/MAX order numerics
      // by value and other terms lexically, returning the TERM
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      val q =
        """PREFIX ex: <http://example.org/>
          |SELECT (SUM(?k) AS ?sum_k) (AVG(?k) AS ?avg_k)
          |       (MIN(?k) AS ?min_k) (MAX(?k) AS ?max_k)
          |       (SUM(?k) / COUNT(*) AS ?ratio)
          |       (MIN(?nm) AS ?min_name) (MAX(?nm) AS ?max_name)
          |       (GROUP_CONCAT(?nm; SEPARATOR="|") AS ?gc_names)
          |WHERE { ?n ex:key ?k . ?n ex:name ?nm . }""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(RdfIO.readTrig(s, path))
    }),
    "select_groupby_expr" -> ((s, dir) => {
      // GROUP BY expression key with AS (SPARQL §11.2 / ARQ extension)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?k (COUNT(*) AS ?n) WHERE { ?t p:role ?role . }
           |GROUP BY (SUBSTR(STR(?role), 1, 3) AS ?k)
           |ORDER BY ?k""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "optional_filter_outer" -> ((s, dir) => {
      // SPARQL §6.1: a FILTER inside OPTIONAL referencing an OUTER var is
      // part of the LeftJoin condition — non-assistant turns keep their
      // row with ?tool unbound even when a tool edge exists
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?t ?role ?tool WHERE {
           |  ?t p:role ?role .
           |  OPTIONAL { ?t p:tool ?tool . FILTER(?role = "assistant") }
           |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "select_orderby_expr" -> ((s, dir) => {
      // expression + aggregate ORDER BY keys (hidden agg column ride-along)
      val q =
        s"""PREFIX p: <$P>
           |SELECT ?role (COUNT(*) AS ?n) WHERE { ?t p:role ?role . }
           |GROUP BY ?role
           |ORDER BY DESC(COUNT(*)) ?role
           |LIMIT 2""".stripMargin
      graft.rules.ConstructParser.parseSelect(q).run(trip(s, dir))
    }),
    "sparql_datetime_text" -> ((s, dir) => {
      // §17.4.5 date/time accessors + sameTerm/isNumeric + injected-clock
      // NOW() over xsd:dateTime literals with mixed zone suffixes
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"),
          concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
            when(pmod(col("event_id"), lit(3)) === 0, "Z")
              .when(pmod(col("event_id"), lit(3)) === 1, "+05:30")
              .otherwise("-02:00")).as("dt"))
      val q =
        """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
          |SELECT ?event_id ?f_year ?f_month ?f_day ?f_hours ?f_minutes
          |       ?f_seconds ?f_tz ?f_tzd ?f_same ?f_isnum ?f_now
          |WHERE {
          |  BIND(STRDT(?dt, xsd:dateTime) AS ?dtt)
          |  BIND(YEAR(?dtt) AS ?f_year)
          |  BIND(MONTH(?dtt) AS ?f_month)
          |  BIND(DAY(?dtt) AS ?f_day)
          |  BIND(HOURS(?dtt) AS ?f_hours)
          |  BIND(MINUTES(?dtt) AS ?f_minutes)
          |  BIND(SECONDS(?dtt) AS ?f_seconds)
          |  BIND(TZ(?dtt) AS ?f_tz)
          |  BIND(TIMEZONE(?dtt) AS ?f_tzd)
          |  BIND(SAMETERM(?dtt, ?dtt) AS ?f_same)
          |  BIND(ISNUMERIC(?f_year) AS ?f_isnum)
          |  BIND(STR(NOW()) AS ?f_now)
          |}""".stripMargin
      graft.rules.ConstructParser.parseSelect(q,
        graft.rules.ConstructParser.EvalCtx(now = Some("2026-01-01T00:00:00Z")))
        .run(ev)
    }),
    "describe_cbd" -> ((s, dir) => {
      // Concise Bounded Description: the outgoing star FOLLOWING bnode
      // objects transitively (2-level _:gen chains in the fixture)
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      val q =
        """PREFIX ex: <http://example.org/>
          |DESCRIBE ?n WHERE { ?n ex:key ?k . }""".stripMargin
      graft.rules.ConstructParser.parseDescribe(q).run(RdfIO.readTrig(s, path))
    }),
    "script_graph_mgmt" -> ((s, dir) => {
      // graph-management verbs + WITH/USING update scoping over one
      // mutable dataset (SPARQL Update §3.1.3, §3.2.5-3.2.7)
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      val script =
        s"""PREFIX ex: <http://example.org/>
           |LOAD <file://$path> ;
           |COPY DEFAULT TO <urn:work> ;
           |WITH <urn:work>
           |DELETE { ?n ex:active ?x }
           |INSERT { ?n ex:wasActive ?x }
           |WHERE { ?n ex:active ?x } ;
           |ADD GRAPH <http://example.org/g1> TO <urn:copy> ;
           |MOVE GRAPH <http://example.org/g2> TO <urn:moved> ;
           |INSERT { GRAPH <urn:cmt> { ?s ex:hadComment ?c } }
           |USING <http://example.org/g3>
           |WHERE { ?s ex:comment ?c }""".stripMargin
      graft.pipeline.Script.runSparql(s, script).dataset
    }),
    "ngs_probe" -> ((s, dir) => {
      // `ngs probe` (CmdNgsProbe.java:19-40): detected syntax + codec
      val path = sys.props("java.io.tmpdir") +
        s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
      RdfIO.writeTrigFixture(s, dir, path)
      RdfIO.probe(s, path)
    }),
    "ngs_git" -> ((s, _) =>
      // `ngs git` (NgsGitCmdImpls.java:44-160) over the deterministic
      // two-revision fixture repo; graph names pin the fixed commit ids
      NgsOps.gitRevisions(s, gitFixtureFile)),
    "stream_dedup_quads" -> ((s, dir) => {
      // streaming exact dedup (append mode, each distinct quad once);
      // the transcript quads contain no duplicates, so distinct = all —
      // the dedup fixture doubles the stream by writing two copies
      val path = sys.props("java.io.tmpdir") +
        s"/graft_stream2_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      val t = trip(s, dir)
      RdfIO.writeNQuads(t.union(t), path)
      graft.streaming.StreamOps.runDedupQuads(s, path)
    }),
    "stream_nquads_window" -> ((s, dir) => {
      // Structured Streaming end to end: N-Quads file stream → event-time
      // window aggregation → memory sink, bounded via AvailableNow; the
      // oracle is the batch twin's SQL (same counts per day window)
      val path = sys.props("java.io.tmpdir") +
        s"/graft_stream_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
      RdfIO.writeNQuads(trip(s, dir), path)
      graft.streaming.StreamOps.runTsWindowCounts(s, path)
    })
  )

  /** 6-statement mixed script over the TriG fixture: LOAD, INSERT DATA,
    * DELETE DATA, INSERT…WHERE, DELETE WHERE, final CONSTRUCT query.
    */
  private def scriptText(s: SparkSession, dir: String): String = {
    val path = sys.props("java.io.tmpdir") +
      s"/graft_trig_${dir.replaceAll("[^a-zA-Z0-9]", "_")}.trig"
    RdfIO.writeTrigFixture(s, dir, path)
    s"""PREFIX ex: <http://example.org/>
       |LOAD <file://$path> ;
       |INSERT DATA { GRAPH <urn:marker> { <urn:s> <urn:p> "done" . } } ;
       |DELETE DATA { ex:n0 ex:key 0 . } ;
       |INSERT { GRAPH <urn:derived> { ?n ex:inRegion ?r . } }
       |WHERE { ?n ex:region ?r . } ;
       |DELETE WHERE { ?s ex:active ?x . } ;
       |CONSTRUCT { GRAPH <urn:q> { ?n ex:namedAs ?nm . } }
       |WHERE { ?n ex:name ?nm . }
       |""".stripMargin
  }

  private def tripCte =
    s"""WITH ${Transcripts.oracleCte},
       |trip AS (${TranscriptRules.oracleSelect})""".stripMargin

  /** DuckDB re-derivation of [[RdfIO.writeTrigFixture]]'s quads — shared
    * by the rdf_trig_scan oracle and the script_* oracles (which LOAD the
    * same fixture).
    */
  private val trigNatCte =
    """nat AS (
      |  SELECT CAST(n_nationkey AS VARCHAR) AS k, n_name AS name,
      |         CAST(n_regionkey AS VARCHAR) AS r,
      |         replace(replace('about "' || n_name || '" ' || chr(92) || ' end',
      |                 chr(92), chr(92)||chr(92)),
      |                 '"', chr(92)||'"') AS c,
      |         3 * (row_number() OVER (ORDER BY n_nationkey) - 1) AS g0
      |  FROM nation
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    "bgp_star_join" ->
      s"""$tripCte
         |SELECT a.subj AS t, a.obj AS role, b.obj AS tool
         |FROM trip a JOIN trip b ON b.subj = a.subj
         |WHERE a.pred = '<${P}role>' AND b.pred = '<${P}tool>'""".stripMargin,
    "bgp_optional" ->
      s"""$tripCte
         |SELECT a.subj AS t, a.obj AS role, b.obj AS tool
         |FROM (SELECT * FROM trip WHERE pred = '<${P}role>') a
         |LEFT JOIN (SELECT * FROM trip WHERE pred = '<${P}tool>') b
         |  ON b.subj = a.subj""".stripMargin,
    "bgp_minus" ->
      s"""$tripCte
         |SELECT a.subj AS t, a.obj AS role
         |FROM trip a WHERE a.pred = '<${P}role>'
         |AND NOT EXISTS (SELECT 1 FROM trip b
         |                WHERE b.pred = '<${P}tool>' AND b.subj = a.subj)""".stripMargin,
    "bgp_exists" ->
      s"""$tripCte
         |SELECT a.subj AS t, a.obj AS role
         |FROM trip a WHERE a.pred = '<${P}role>'
         |AND EXISTS (SELECT 1 FROM trip b
         |            WHERE b.pred = '<${P}next>' AND b.subj = a.subj)""".stripMargin,
    "bgp_path_join" ->
      s"""$tripCte
         |SELECT a.subj AS a, a.obj AS b, r.obj AS role
         |FROM trip a JOIN trip r ON r.subj = a.obj
         |WHERE a.pred = '<${P}next>' AND r.pred = '<${P}role>'""".stripMargin,
    "bgp_union" ->
      s"""$tripCte
         |SELECT subj AS t, obj AS role, NULL AS tool FROM trip WHERE pred = '<${P}role>'
         |UNION ALL
         |SELECT subj, NULL, obj FROM trip WHERE pred = '<${P}tool>'""".stripMargin,
    "construct_bgp" ->
      s"""$tripCte,
         |m AS (
         |  SELECT a.subj AS s, r.obj AS role, t.obj AS tool
         |  FROM trip a
         |  JOIN trip r ON r.subj = a.obj AND r.pred = '<${P}role>'
         |  LEFT JOIN trip t ON t.subj = a.obj AND t.pred = '<${P}tool>'
         |  WHERE a.pred = '<${P}next>' AND r.obj <> '"assistant"'
         |)
         |SELECT s AS subj, '<http://ex.org/nextRole>' AS pred, role AS obj,
         |       '<urn:x-arq:DefaultGraph>' AS graph FROM m
         |UNION ALL
         |SELECT s, '<http://ex.org/nextTool>', tool, '<urn:x-arq:DefaultGraph>'
         |FROM m WHERE tool IS NOT NULL""".stripMargin,
    "construct_bgp_union" ->
      s"""$tripCte,
         |u AS (
         |  SELECT subj AS t, obj AS v FROM trip WHERE pred = '<${P}role>'
         |  UNION ALL
         |  SELECT subj, obj FROM trip WHERE pred = '<${P}tool>'
         |)
         |SELECT t AS subj, '<http://ex.org/flag>' AS pred, v AS obj,
         |       '<urn:x-arq:DefaultGraph>' AS graph
         |FROM u WHERE NOT EXISTS (SELECT 1 FROM trip n
         |                         WHERE n.pred = '<${P}next>' AND n.subj = u.t)""".stripMargin,
    "construct_bgp_graph" ->
      s"""$tripCte
         |SELECT r.subj AS subj, '<http://ex.org/roleIn>' AS pred, r.obj AS obj,
         |       r.graph AS graph
         |FROM trip r
         |WHERE r.pred = '<${P}role>'
         |  AND EXISTS (SELECT 1 FROM trip t
         |              WHERE t.pred = '<${P}tool>' AND t.subj = r.subj)""".stripMargin,
    "select_bgp_text" ->
      s"""$tripCte
         |SELECT a.obj AS role, count(*) AS n
         |FROM trip a JOIN trip b ON b.subj = a.subj AND b.pred = '<${P}tool>'
         |WHERE a.pred = '<${P}role>'
         |GROUP BY a.obj""".stripMargin,
    "example_pipeline" ->
      """WITH nat AS (SELECT CAST(n_nationkey AS VARCHAR) AS k, n_name AS name
        |             FROM nation)
        |SELECT subj, pred, obj, graph FROM (
        |  SELECT '<http://qrowd-project.eu/resource/n' || k || '>' AS subj,
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS pred,
        |         '<http://qrowd-project.eu/ontology/BikeStation>' AS obj,
        |         '<http://example.org/myGraph>' AS graph FROM nat
        |  UNION ALL SELECT '<http://qrowd-project.eu/resource/n' || k || '>',
        |         '<http://qrowd-project.eu/ontology/id>', '"n' || k || '"',
        |         '<http://example.org/myGraph>' FROM nat
        |  UNION ALL SELECT '<http://qrowd-project.eu/resource/n' || k || '>',
        |         '<http://www.w3.org/2000/01/rdf-schema#label>',
        |         '"' || name || '"', '<http://example.org/myGraph>' FROM nat
        |  UNION ALL SELECT '<http://qrowd-project.eu/resource/n' || k || '>',
        |         '<http://www.w3.org/2003/01/geo/wgs84_pos#long>',
        |         '"' || k || '.5"', '<http://example.org/myGraph>' FROM nat
        |  UNION ALL SELECT '<http://qrowd-project.eu/resource/n' || k || '>',
        |         '<http://www.w3.org/2003/01/geo/wgs84_pos#lat>',
        |         '"' || k || '.25"', '<http://example.org/myGraph>' FROM nat
        |)""".stripMargin,
    "select_distinct_text" ->
      s"""$tripCte
         |SELECT DISTINCT obj AS role FROM trip
         |WHERE pred = '<${P}role>'""".stripMargin,
    "construct_where_short" ->
      s"""$tripCte
         |SELECT subj, '<${P}role>' AS pred, obj,
         |       '<urn:x-arq:DefaultGraph>' AS graph
         |FROM trip WHERE pred = '<${P}role>'""".stripMargin,
    "script_modify_text" ->
      s"""WITH $trigNatCte,
         |fixture AS ($trigFixtureSelect)
         |SELECT graph, subj, pred, obj FROM fixture
         |WHERE NOT (graph = '<urn:x-arq:DefaultGraph>'
         |           AND pred = '<http://example.org/active>')
         |UNION ALL
         |SELECT '<urn:flags>', subj, '<http://example.org/wasActive>', obj
         |FROM fixture WHERE pred = '<http://example.org/active>'""".stripMargin,
    "from_graph_text" ->
      s"""$tripCte
         |SELECT subj AS s, obj AS o FROM trip
         |WHERE pred = '<${P}role>'
         |  AND graph = '<http://graft.io/g/conv-000000000001>'""".stripMargin,
    "describe_text" ->
      s"""$tripCte
         |SELECT t.subj, t.pred, t.obj, t.graph FROM trip t
         |WHERE t.subj IN (
         |  SELECT a.obj FROM trip a JOIN trip b ON b.subj = a.subj
         |  WHERE a.pred = '<${P}conv>'
         |    AND b.pred = '<${P}tool>' AND b.obj = '"tool_purchase"')""".stripMargin,
    "subselect_text" ->
      s"""$tripCte
         |SELECT a.subj AS t, a.obj AS conv, c.n AS n
         |FROM trip a
         |JOIN (SELECT obj AS conv, count(*) AS n FROM trip
         |      WHERE pred = '<${P}conv>' GROUP BY obj) c ON c.conv = a.obj
         |WHERE a.pred = '<${P}conv>'""".stripMargin,
    "sparql_fns_text" ->
      """SELECT c_custkey,
        |  c_name || '/' || c_mktsegment AS f_concat,
        |  CAST(length(c_name) AS BIGINT) AS f_strlen,
        |  upper(c_mktsegment) AS f_ucase,
        |  lower(c_name) AS f_lcase,
        |  substr(c_name, 1, 8) AS f_substr,
        |  starts_with(c_name, 'Customer') AS f_starts,
        |  ends_with(c_name, '1') AS f_ends,
        |  contains(c_mktsegment, 'MACH') AS f_contains,
        |  CASE WHEN strpos(c_name, '#') > 0
        |       THEN substr(c_name, 1, strpos(c_name, '#') - 1) ELSE '' END AS f_before,
        |  CASE WHEN strpos(c_name, '#') > 0
        |       THEN substr(c_name, strpos(c_name, '#') + 1) ELSE '' END AS f_after,
        |  regexp_replace(c_name, '0+', '0', 'g') AS f_replace,
        |  regexp_matches(c_name, '00[1-4]$') AS f_regex,
        |  md5(c_mktsegment) AS f_md5,
        |  sha256(c_name) AS f_sha256,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN 'b' ELSE 'other' END AS f_if,
        |  COALESCE(c_name, c_mktsegment) AS f_coalesce,
        |  CAST((c_custkey + 1) * 2 AS DOUBLE) AS f_arith,
        |  (c_custkey > 100 AND c_custkey <= 1400) AS f_cmp,
        |  '"' || c_name || '"@en' AS f_strlang,
        |  'en' AS f_lang,
        |  '<http://www.w3.org/2001/XMLSchema#token>' AS f_dt,
        |  true AS f_islit,
        |  '"' || CAST(c_custkey AS VARCHAR) ||
        |    '"^^<http://www.w3.org/2001/XMLSchema#long>' AS f_cast
        |FROM customer""".stripMargin,
    "select_having" ->
      s"""$tripCte
         |SELECT obj AS role, count(*) AS n FROM trip
         |WHERE pred = '<${P}role>'
         |GROUP BY obj HAVING count(*) > 1500""".stripMargin,
    "lateral_text" ->
      s"""$tripCte
         |SELECT pred AS p, count(*) AS n FROM trip GROUP BY pred""".stripMargin,
    "path_seq" ->
      s"""$tripCte
         |SELECT n.obj AS b, r.obj AS r
         |FROM trip n JOIN trip r ON r.subj = n.subj
         |WHERE n.pred = '<${P}next>' AND r.pred = '<${P}role>'""".stripMargin,
    "path_alt" ->
      s"""$tripCte
         |SELECT subj AS t, obj AS v FROM trip WHERE pred = '<${P}role>'
         |UNION ALL
         |SELECT subj, obj FROM trip WHERE pred = '<${P}tool>'""".stripMargin,
    "path_neg" ->
      s"""$tripCte
         |SELECT subj AS s, obj AS o FROM trip
         |WHERE pred NOT IN (
         |  '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
         |  '<${P}role>', '<${P}text>', '<${P}ts>', '<${P}conv>',
         |  '<${P}hasTurn>')""".stripMargin,
    "path_plus" ->
      s"""$tripCte,
         |edge AS (SELECT subj AS s, obj AS o FROM trip WHERE pred = '<${P}next>'),
         |reach AS (
         |  SELECT s, o FROM edge
         |  UNION
         |  SELECT r.s, e.o FROM reach r JOIN edge e ON e.s = r.o
         |)
         |SELECT DISTINCT s, o FROM reach""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "path_graph_plus" ->
      s"""$tripCte,
         |edge AS (SELECT graph AS g, subj AS s, obj AS o FROM trip
         |         WHERE pred = '<${P}next>'),
         |reach AS (
         |  SELECT g, s, o FROM edge
         |  UNION
         |  SELECT r.g, r.s, e.o FROM reach r
         |  JOIN edge e ON e.g = r.g AND e.s = r.o
         |)
         |SELECT DISTINCT g, s, o FROM reach""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "path_star" ->
      s"""$tripCte,
         |edge AS (SELECT subj AS s, obj AS o FROM trip WHERE pred = '<${P}next>'),
         |reach AS (
         |  SELECT s, o FROM edge
         |  UNION
         |  SELECT r.s, e.o FROM reach r JOIN edge e ON e.s = r.o
         |)
         |SELECT DISTINCT s, o FROM reach
         |UNION
         |SELECT n, n FROM (SELECT subj AS n FROM trip
         |                  UNION SELECT obj FROM trip)""".stripMargin
        .replaceFirst("WITH ", "WITH RECURSIVE "),
    "values_filter" ->
      s"""$tripCte
         |SELECT subj AS t, obj AS role FROM trip
         |WHERE pred = '<${P}role>' AND obj IN ('"user"', '"assistant"')""".stripMargin,
    "ask_text" ->
      s"""$tripCte
         |SELECT count(*) > 0 AS ask FROM trip
         |WHERE pred = '<${P}role>' AND obj = '"user"'""".stripMargin,
    "ngs_ask_sparql" ->
      s"""$tripCte
         |SELECT t.subj, t.pred, t.obj, t.graph FROM trip t
         |WHERE t.graph IN (
         |  SELECT a.graph
         |  FROM trip a
         |  JOIN trip n ON n.subj = a.subj AND n.graph = a.graph
         |  JOIN trip b ON b.subj = n.obj AND b.graph = a.graph
         |  WHERE a.pred = '<${P}tool>' AND a.obj = '"tool_purchase"'
         |    AND n.pred = '<${P}next>'
         |    AND b.pred = '<${P}tool>' AND b.obj = '"tool_purchase"')""".stripMargin,
    "csv_scan_pf" ->
      """SELECT '"' ||
        |  replace(replace(to_json(struct_pack(
        |      k := CAST(c_custkey AS VARCHAR), name := c_name,
        |      seg := c_mktsegment))::VARCHAR,
        |    chr(92), chr(92)||chr(92)), '"', chr(92)||'"') ||
        |  '"^^<http://www.w3.org/2001/XMLSchema#json>' AS rowJson
        |FROM customer""".stripMargin,
    "url_text" ->
      """SELECT '"' ||
        |  replace('k,name,seg' || chr(10) ||
        |    string_agg(c_custkey || ',' || c_name || ',' || c_mktsegment,
        |      chr(10) ORDER BY c_custkey) || chr(10),
        |    chr(10), chr(92) || 'n') ||
        |  '"' AS str
        |FROM customer""".stripMargin,
    "csv_inline_pf" ->
      """SELECT '"{\"fn\":\"Mary\",\"ln\":\"Major\"}"^^<http://www.w3.org/2001/XMLSchema#json>' AS rowJson
        |UNION ALL
        |SELECT '"{\"fn\":\"John\",\"ln\":\"Doe\"}"^^<http://www.w3.org/2001/XMLSchema#json>'""".stripMargin,
    "xml_unnest_text" ->
      """SELECT '"item"' AS item""",
    "example_io" ->
      """SELECT '<http://www.example.org/s' ||
        |         CAST(CAST(c_custkey + 1 AS DOUBLE) AS VARCHAR) || '>' AS subj,
        |       '<http://www.example.org/value>' AS pred,
        |       '"' || CAST(CAST(c_custkey + 1 AS DOUBLE) AS VARCHAR) || '"' AS obj,
        |       '<urn:x-arq:DefaultGraph>' AS graph
        |FROM customer
        |UNION ALL
        |SELECT '<http://www.example.org/s1.0>', '<http://www.example.org/value>',
        |       '"1.0"', '<urn:x-arq:DefaultGraph>'""".stripMargin,
    "graphql_query" ->
      s"""WITH ${Transcripts.oracleCte},
         |t AS (
         |  SELECT conv_id, turn_idx, role, tool,
         |    lead(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_idx,
         |    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
         |  FROM transcripts
         |)
         |SELECT 'turns' AS field,
         |  'http://graft.io/conv/' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS id,
         |  '{"id":' || to_json('http://graft.io/conv/' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)) ||
         |  ',"role":' || to_json(role) ||
         |  ',"tools":' || CASE WHEN tool IS NULL THEN '[]' ELSE '[' || to_json(tool) || ']' END ||
         |  ',"next":' || CASE WHEN next_idx IS NULL THEN '[]'
         |      ELSE '[{"nrole":' || to_json(next_role) || '}]' END ||
         |  '}' AS js
         |FROM t""".stripMargin,
    "service_file" ->
      """SELECT '<http://ex.org/c/'||c_custkey||'>' AS c,
        |       '<http://ex.org/n/'||c_nationkey||'>' AS nat,
        |       '"'||n_name||'"' AS lbl
        |FROM customer JOIN nation ON n_nationkey = c_nationkey""".stripMargin,
    "fs_find" ->
      """SELECT 'n_'||n_nationkey||'.nt' AS name FROM nation
        |UNION ALL
        |SELECT 'r_'||r_regionkey||'.nt' FROM region""".stripMargin,
    "service_var" ->
      """SELECT '<http://ex.org/n/'||n_nationkey||'>' AS s,
        |       '"'||n_name||'"' AS o FROM nation
        |UNION ALL
        |SELECT '<http://ex.org/r/'||r_regionkey||'>', '"'||r_name||'"'
        |FROM region""".stripMargin,
    "from_file" ->
      """SELECT '<http://ex.org/r/'||r_regionkey||'>' AS s,
        |       '"'||r_name||'"' AS o
        |FROM region WHERE r_regionkey <= 1""".stripMargin,
    "csv_parse" ->
      "SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg FROM customer",
    "csv_scan" ->
      "SELECT c_custkey AS k, c_name AS name, c_mktsegment AS seg FROM customer",
    "xml_path" ->
      "SELECT c_custkey, c_name AS name, c_mktsegment AS seg FROM customer",
    "macro_greet" ->
      "SELECT c_custkey, 'Hello ' || c_name || '!' AS greeting FROM customer",
    "macro_ttl" ->
      """SELECT '<http://ex.org/c/'||c_custkey||'>' AS c,
        |       'Hello '||c_name||'!' AS greeting FROM customer""".stripMargin,
    "lambda_call" ->
      """SELECT '<http://ex.org/c/'||c_custkey||'>' AS c,
        |       'Mx. '||c_name AS resultA, 'Dr. '||c_name AS resultB
        |FROM customer""".stripMargin,
    // bare patterns see the union default graph (the reference's
    // TransformUnionQuery rewrite), so the DG branch carries ALL rows;
    // GRAPH ?g ranges over named graphs only
    "canned_spogspo" ->
      """SELECT '<http://ex.org/c/'||c_custkey||'>' AS subj,
        |       '<http://ex.org/in>' AS pred,
        |       '<http://ex.org/n/'||c_nationkey||'>' AS obj,
        |       '<urn:x-arq:DefaultGraph>' AS graph FROM customer
        |UNION ALL
        |SELECT '<http://ex.org/n/'||n_nationkey||'>', '<http://ex.org/name>',
        |       '"'||n_name||'"', '<urn:x-arq:DefaultGraph>' FROM nation
        |UNION ALL
        |SELECT '<http://ex.org/r/'||r_regionkey||'>', '<http://ex.org/rname>',
        |       '"'||r_name||'"', '<urn:x-arq:DefaultGraph>' FROM region
        |UNION ALL
        |SELECT '<http://ex.org/r/'||r_regionkey||'>', '<http://ex.org/rname>',
        |       '"'||r_name||'"', '<http://ex.org/g/r>' FROM region""".stripMargin,
    "canned_count" ->
      """SELECT (SELECT count(*) FROM customer) +
        |       (SELECT count(*) FROM nation) +
        |       2 * (SELECT count(*) FROM region) AS c""".stripMargin,
    "canned_tree" ->
      """SELECT '<http://ex.org/c/'||c_custkey||'>' AS subj,
        |       '<http://ex.org/in>' AS pred,
        |       '_:n'||md5('<http://ex.org/n/'||c_nationkey||'>') AS obj
        |FROM customer
        |UNION ALL
        |SELECT '_:n'||md5('<http://ex.org/n/'||n_nationkey||'>'),
        |       '<http://ex.org/name>', '"'||n_name||'"' FROM nation""".stripMargin,
    "canned_property_joins" ->
      s"""$tripCte
         |SELECT DISTINCT '<urn:x-arq:DefaultGraph>' AS graph,
         |       t1.pred AS subj,
         |       '<http://www.example.org/joinsWith>' AS pred,
         |       t2.pred AS obj
         |FROM trip t1 JOIN trip t2 ON t1.obj = t2.subj""".stripMargin,
    "canned_transpose" ->
      """SELECT * FROM (VALUES
        |  ('"a"', '"b"', '"a"'),
        |  ('"c"', '"d"', '"c"')) t(x, y, v)""".stripMargin,
    "construct_sequence" ->
      """SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
        |       '<http://ex.org/name>' AS pred, '"' || c_name || '"' AS obj,
        |       '<http://ex.org/g>' AS graph
        |FROM customer
        |UNION ALL
        |SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>',
        |       '<http://ex.org/segment>', '"' || c_mktsegment || '"',
        |       '<http://ex.org/g>'
        |FROM customer WHERE c_mktsegment <> 'BUILDING'""".stripMargin,
    "sparql_fns" ->
      """SELECT c_custkey,
        |  c_name || '/' || c_mktsegment AS f_concat,
        |  CAST(length(c_name) AS BIGINT) AS f_strlen,
        |  upper(c_mktsegment) AS f_ucase,
        |  lower(c_name) AS f_lcase,
        |  substr(c_name, 1, 8) AS f_substr,
        |  starts_with(c_name, 'Customer') AS f_strstarts,
        |  contains(c_mktsegment, 'MACH') AS f_contains,
        |  regexp_replace(c_name, '0+', '0', 'g') AS f_replace,
        |  abs(c_acctbal) AS f_abs,
        |  CAST(ceil(c_acctbal) AS BIGINT) AS f_ceil,
        |  CAST(floor(c_acctbal) AS BIGINT) AS f_floor,
        |  round(c_acctbal, 1) AS f_round,
        |  sha256(c_name) AS f_sha256,
        |  md5(c_mktsegment) AS f_md5,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), 'none') AS f_coalesce,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS f_if
        |FROM customer""".stripMargin,
    "env_subst" ->
      """SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
        |       '<http://ex.org/name>' AS pred,
        |       '"' || c_name || '"' AS obj,
        |       '<urn:graft:out>' AS graph
        |FROM customer""".stripMargin,
    "values_undef" ->
      s"""$tripCte,
         |base AS (
         |  SELECT r.subj AS t, r.obj AS role, tl.obj AS tool
         |  FROM (SELECT * FROM trip WHERE pred = '<${P}role>') r
         |  LEFT JOIN (SELECT * FROM trip WHERE pred = '<${P}tool>') tl
         |    ON tl.subj = r.subj
         |),
         |v(vrole, vtool) AS (VALUES
         |  ('"user"', CAST(NULL AS VARCHAR)),
         |  (CAST(NULL AS VARCHAR), '"tool_search"'))
         |SELECT b.t, COALESCE(b.role, v.vrole) AS role,
         |       COALESCE(b.tool, v.vtool) AS tool
         |FROM base b JOIN v
         |  ON (b.role IS NULL OR v.vrole IS NULL OR b.role = v.vrole)
         | AND (b.tool IS NULL OR v.vtool IS NULL OR b.tool = v.vtool)""".stripMargin,
    "select_agg_terms" ->
      """SELECT CAST(SUM(n_nationkey) AS DOUBLE) AS sum_k,
        |       CAST(AVG(n_nationkey) AS DOUBLE) AS avg_k,
        |       '"' || CAST(MIN(n_nationkey) AS VARCHAR) ||
        |         '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS min_k,
        |       '"' || CAST(MAX(n_nationkey) AS VARCHAR) ||
        |         '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS max_k,
        |       CAST(SUM(n_nationkey) AS DOUBLE) / count(*) AS ratio,
        |       string_agg(n_name, '|' ORDER BY n_name) AS gc_names,
        |       '"' || MIN(n_name) || '"' AS min_name,
        |       '"' || MAX(n_name) || '"' AS max_name
        |FROM nation""".stripMargin,
    "select_groupby_expr" ->
      s"""$tripCte
         |SELECT substr(obj, 2, 3) AS k, count(*) AS n FROM trip
         |WHERE pred = '<${P}role>' GROUP BY 1""".stripMargin,
    "optional_filter_outer" ->
      s"""$tripCte
         |SELECT r.subj AS t, r.obj AS role, tl.obj AS tool
         |FROM (SELECT * FROM trip WHERE pred = '<${P}role>') r
         |LEFT JOIN (SELECT * FROM trip WHERE pred = '<${P}tool>') tl
         |  ON tl.subj = r.subj AND r.obj = '"assistant"'""".stripMargin,
    "select_orderby_expr" ->
      s"""$tripCte
         |SELECT obj AS role, count(*) AS n FROM trip
         |WHERE pred = '<${P}role>'
         |GROUP BY obj ORDER BY n DESC, role LIMIT 2""".stripMargin,
    "sparql_datetime_text" ->
      """SELECT event_id,
        |  CAST(year(ts) AS BIGINT) AS f_year,
        |  CAST(month(ts) AS BIGINT) AS f_month,
        |  CAST(day(ts) AS BIGINT) AS f_day,
        |  CAST(hour(ts) AS BIGINT) AS f_hours,
        |  CAST(minute(ts) AS BIGINT) AS f_minutes,
        |  CAST(CAST(second(ts) AS BIGINT) AS DOUBLE) AS f_seconds,
        |  CASE event_id % 3 WHEN 0 THEN 'Z' WHEN 1 THEN '+05:30'
        |       ELSE '-02:00' END AS f_tz,
        |  CASE event_id % 3
        |    WHEN 0 THEN '"PT0S"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
        |    WHEN 1 THEN '"PT5H30M"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
        |    ELSE '"-PT2H"^^<http://www.w3.org/2001/XMLSchema#dayTimeDuration>'
        |  END AS f_tzd,
        |  true AS f_same,
        |  true AS f_isnum,
        |  '2026-01-01T00:00:00Z' AS f_now
        |FROM events""".stripMargin,
    "describe_cbd" ->
      // every subject EXCEPT the _:bK bnodes (incoming-edge-only, not in
      // any CBD); the `_` LIKE wildcard is harmless here — only the _:bK
      // labels have ':b' at positions 2-3
      s"""WITH $trigNatCte
         |SELECT graph, subj, pred, obj FROM ($trigFixtureSelect)
         |WHERE subj NOT LIKE '_:b%'""".stripMargin,
    "script_graph_mgmt" ->
      s"""WITH $trigNatCte,
         |fixture AS ($trigFixtureSelect)
         |SELECT graph, subj, pred, obj FROM fixture
         |WHERE graph <> '<http://example.org/g2>'
         |UNION ALL
         |SELECT '<urn:work>', subj,
         |       CASE WHEN pred = '<http://example.org/active>'
         |            THEN '<http://example.org/wasActive>' ELSE pred END, obj
         |FROM fixture WHERE graph = '<urn:x-arq:DefaultGraph>'
         |UNION ALL
         |SELECT '<urn:copy>', subj, pred, obj FROM fixture
         |WHERE graph = '<http://example.org/g1>'
         |UNION ALL
         |SELECT '<urn:moved>', subj, pred, obj FROM fixture
         |WHERE graph = '<http://example.org/g2>'
         |UNION ALL
         |SELECT '<urn:cmt>', subj, '<http://example.org/hadComment>', obj
         |FROM fixture
         |WHERE graph = '<http://example.org/g3>'
         |  AND pred = '<http://example.org/comment>'""".stripMargin,
    "ngs_probe" -> "SELECT 'trig' AS syntax, 'none' AS compression",
    // pinned by the deterministic fixture repo (fixed identity + dates →
    // fixed commit ids); 2 meta quads per revision + the payload at each
    "ngs_git" ->
      """SELECT * FROM (VALUES
        |  ('<urn:git:43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6-2023-11-14T22:13:20Z>',
        |   '<urn:git:43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6-2023-11-14T22:13:20Z>',
        |   '<urn:git:timestamp>',
        |   '"2023-11-14T22:13:20Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
        |  ('<urn:git:43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6-2023-11-14T22:13:20Z>',
        |   '<urn:git:43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6-2023-11-14T22:13:20Z>',
        |   '<urn:git:name>', '"43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6"'),
        |  ('<urn:git:43d58f0f669de593e81c0ac7c23cf47fc8c3b4e6-2023-11-14T22:13:20Z>',
        |   '<urn:a>', '<urn:p>', '"one"'),
        |  ('<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:git:timestamp>',
        |   '"2023-11-14T22:15:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>'),
        |  ('<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:git:name>', '"4fa486d280de952cf3e9397fe9750ea138cbef57"'),
        |  ('<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:a>', '<urn:p>', '"one"'),
        |  ('<urn:git:4fa486d280de952cf3e9397fe9750ea138cbef57-2023-11-14T22:15:00Z>',
        |   '<urn:b>', '<urn:p>', '"two"')
        |) t(graph, subj, pred, obj)""".stripMargin,
    "stream_dedup_quads" ->
      s"""$tripCte
         |SELECT DISTINCT graph, subj, pred, obj FROM trip""".stripMargin,
    "stream_nquads_window" ->
      s"""WITH ${Transcripts.oracleCte}
         |SELECT epoch_us(date_trunc('day', ts)) AS window_start_us,
         |       count(*) AS n
         |FROM transcripts GROUP BY 1""".stripMargin,
    "rdf_trig_scan" -> s"WITH $trigNatCte\n$trigFixtureSelect",
    "rdf_trig_chunked" ->
      s"""WITH $trigNatCte
         |SELECT * FROM ($trigFixtureSelect)
         |WHERE pred NOT IN ('<http://example.org/meta>',
         |  '<http://example.org/rank>', '<http://example.org/tags>',
         |  '<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>',
         |  '<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>')""".stripMargin
  ) ++ tailOracles ++ scriptOracles

  /** Oracles for the whole-script driver queries: compose the fixture
    * SELECT with each update statement's relational effect, stage by
    * stage, exactly as [[graft.pipeline.Script.runSparql]] applies them.
    */
  private def scriptOracles: Map[String, String] = Map(
    "script_update_text" ->
      s"""WITH $trigNatCte,
         |fixture AS ($trigFixtureSelect)
         |SELECT graph, subj, pred, obj FROM fixture
         |WHERE NOT (graph = '<urn:x-arq:DefaultGraph>'
         |           AND pred = '<http://example.org/active>')
         |  AND NOT (graph = '<urn:x-arq:DefaultGraph>'
         |           AND subj = '<http://example.org/n0>'
         |           AND pred = '<http://example.org/key>'
         |           AND obj = '"0"^^<http://www.w3.org/2001/XMLSchema#integer>')
         |UNION ALL
         |SELECT '<urn:marker>', '<urn:s>', '<urn:p>', '"done"'
         |UNION ALL
         |SELECT '<urn:derived>', subj, '<http://example.org/inRegion>', obj
         |FROM fixture WHERE pred = '<http://example.org/region>'""".stripMargin,
    "script_query_text" ->
      s"""WITH $trigNatCte,
         |fixture AS ($trigFixtureSelect)
         |SELECT '<urn:q>' AS graph, subj, '<http://example.org/namedAs>' AS pred,
         |       obj
         |FROM fixture WHERE pred = '<http://example.org/name>'""".stripMargin
  )

  /** The fixture's quads as a SELECT over [[trigNatCte]]. */
  private lazy val trigFixtureSelect =
      """SELECT graph, subj, pred, obj FROM (
        |  SELECT '<urn:x-arq:DefaultGraph>' AS graph,
        |         '<http://example.org/n' || k || '>' AS subj,
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS pred,
        |         '<http://example.org/Nation>' AS obj FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/name>', '"' || name || '"' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/key>',
        |         '"' || k || '"^^<http://www.w3.org/2001/XMLSchema#integer>' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/active>',
        |         '"true"^^<http://www.w3.org/2001/XMLSchema#boolean>' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/region>', '<http://example.org/r' || r || '>' FROM nat
        |  UNION ALL SELECT '<http://example.org/g' || k || '>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/comment>', '"' || c || '"' FROM nat
        |  UNION ALL SELECT '<http://example.org/g' || k || '>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/comment>', '"second note"@en' FROM nat
        |  UNION ALL SELECT '<http://example.org/g' || k || '>', '_:b' || k,
        |         '<http://example.org/refersTo>', '<http://example.org/n' || k || '>' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '<http://example.org/n' || k || '>',
        |         '<http://example.org/meta>', '_:gen' || CAST(g0 AS VARCHAR) FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 AS VARCHAR),
        |         '<http://example.org/rank>',
        |         '"' || k || '"^^<http://www.w3.org/2001/XMLSchema#integer>' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 AS VARCHAR),
        |         '<http://example.org/tags>', '_:gen' || CAST(g0 + 1 AS VARCHAR) FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 + 1 AS VARCHAR),
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>', '"a"' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 + 1 AS VARCHAR),
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>', '_:gen' || CAST(g0 + 2 AS VARCHAR) FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 + 2 AS VARCHAR),
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>', '"b"' FROM nat
        |  UNION ALL SELECT '<urn:x-arq:DefaultGraph>', '_:gen' || CAST(g0 + 2 AS VARCHAR),
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>',
        |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>' FROM nat
        |)""".stripMargin

  private lazy val tailOracles: Map[String, String] = Map(
    "rdf_roundtrip" ->
      s"""WITH ${SyntheticQuads.oracleCte}
         |SELECT graph, subj, pred, obj FROM quads""".stripMargin,
    "rdf_hdt_scan" ->
      s"""$tripCte
         |SELECT DISTINCT '<urn:x-arq:DefaultGraph>' AS graph, subj, pred, obj
         |FROM trip""".stripMargin,
    "void_profile" ->
      s"""$tripCte
         |SELECT count(*) AS n_triples,
         |       count(DISTINCT subj) AS n_subjects,
         |       count(DISTINCT pred) AS n_properties,
         |       count(DISTINCT obj) AS n_objects,
         |       count(DISTINCT CASE WHEN pred = '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
         |                           THEN obj END) AS n_classes
         |FROM trip""".stripMargin,
    "json_entries" ->
      """SELECT event_id, k AS key, props->>k AS value
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)""".stripMargin
  )
}
