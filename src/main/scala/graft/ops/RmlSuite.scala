package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rules.Rml

/** Driver-oracled RML entries: a full (R2)RML mapping — classes,
  * reference/template/constant term maps, datatype + language literals,
  * IRI-safe encoding, template graph maps, and a cross-source
  * referencing object map — executed by [[Rml]] over deterministic CSV /
  * JSON fixtures derived from the parquet tables, so DuckDB can re-derive
  * every triple with pure SQL (reference workload: docs/rml/index.md).
  */
object RmlSuite {

  /** Write `content` under the tmp dir, keyed by sf dir (parallel runs at
    * different SFs must not clobber each other); returns the path.
    */
  private def fixture(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft_rml_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_$name")
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  /** customers.csv + nations.csv + the mapping, all deterministic
    * derivations of the parquet tables (dimension-scale driver writes,
    * same pattern as the csv_scan fixture).
    */
  private def writeCsvFixtures(s: SparkSession, dir: String): String = {
    val cust = s.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").cast("long"), col("c_name"),
        col("c_mktsegment"), col("c_nationkey").cast("long"))
      .orderBy("c_custkey").collect()
    val cb = new StringBuilder("custkey,name,segment,nationkey\n")
    cust.foreach(r => cb.append(r.getLong(0)).append(',')
      .append(r.getString(1)).append(',').append(r.getString(2))
      .append(',').append(r.getLong(3)).append('\n'))
    fixture(dir, "customers.csv", cb.toString)
    val nat = s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .orderBy("n_nationkey").collect()
    val nb = new StringBuilder("nationkey,nname\n")
    nat.foreach(r => nb.append(r.getLong(0)).append(',')
      .append(r.getString(1)).append('\n'))
    fixture(dir, "nations.csv", nb.toString)

    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    fixture(dir, "mapping.rml.ttl",
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex.org/> .
         |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
         |
         |<#Cust> rml:logicalSource [ rml:source "graft_rml_${tag}_customers.csv" ;
         |    rml:referenceFormulation ql:CSV ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/c/{custkey}" ;
         |                  rr:class ex:Customer ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:name ;
         |    rr:objectMap [ rml:reference "name" ] ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:segment ;
         |    rr:objectMap [ rr:template "{segment}" ; rr:termType rr:Literal ] ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:key ;
         |    rr:objectMap [ rr:template "http://ex.org/k/{name}" ] ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:nation ;
         |    rr:objectMap [ rr:parentTriplesMap <#Nat> ;
         |      rr:joinCondition [ rr:child "nationkey" ; rr:parent "nationkey" ] ] ] .
         |
         |<#Seg> rml:logicalSource [ rml:source "graft_rml_${tag}_customers.csv" ;
         |    rml:referenceFormulation ql:CSV ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/seg/{segment}" ;
         |    rr:graphMap [ rr:template "http://ex.org/g/{segment}" ] ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:label ;
         |    rr:objectMap [ rml:reference "segment" ; rr:language "en" ] ] .
         |
         |<#Nat> rml:logicalSource [ rml:source "graft_rml_${tag}_nations.csv" ;
         |    rml:referenceFormulation ql:CSV ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/n/{nationkey}" ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:nname ;
         |    rr:objectMap [ rml:reference "nname" ; rr:datatype xsd:string ] ] .
         |""".stripMargin)
  }

  private def writeJsonFixtures(s: SparkSession, dir: String): String = {
    val nat = s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .orderBy("n_nationkey").collect()
    val jb = new StringBuilder("[\n")
    nat.zipWithIndex.foreach { case (r, k) =>
      if (k > 0) jb.append(",\n")
      jb.append(s"""  {"id": ${r.getLong(0)}, "name": "${r.getString(1)}"}""")
    }
    jb.append("\n]\n")
    fixture(dir, "nations.json", jb.toString)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    fixture(dir, "mapping_json.rml.ttl",
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex.org/> .
         |<#NatJ> rml:logicalSource [ rml:source "graft_rml_${tag}_nations.json" ;
         |    rml:referenceFormulation ql:JSONPath ; rml:iterator "$$[*]" ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/n/{id}" ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:label ;
         |    rr:objectMap [ rml:reference "name" ] ] .
         |""".stripMargin)
  }

  /** nations.xml: attribute subject ref (`@id`), element ref (`name`),
    * and a `comment` element PRESENT ONLY for even keys — the absent-node
    * → NULL → suppressed-triple path (RML spec §5, ql:XPath).
    */
  private def writeXmlFixtures(s: SparkSession, dir: String): String = {
    val nat = s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .orderBy("n_nationkey").collect()
    val xb = new StringBuilder("<nations>\n")
    nat.foreach { r =>
      xb.append(s"""  <nation id="${r.getLong(0)}"><name>${r.getString(1)}</name>""")
      if (r.getLong(0) % 2 == 0) xb.append(s"<comment>c${r.getLong(0)}</comment>")
      xb.append("</nation>\n")
    }
    xb.append("</nations>\n")
    fixture(dir, "nations.xml", xb.toString)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    fixture(dir, "mapping_xml.rml.ttl",
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex.org/> .
         |<#NatX> rml:logicalSource [ rml:source "graft_rml_${tag}_nations.xml" ;
         |    rml:referenceFormulation ql:XPath ;
         |    rml:iterator "/nations/nation" ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/n/{@id}" ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:label ;
         |    rr:objectMap [ rml:reference "name" ] ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:comment ;
         |    rr:objectMap [ rml:reference "comment" ] ] .
         |""".stripMargin)
  }

  /** Multi-valued XPath references (RML term SETS): each nation carries
    * `(n_nationkey % 3) + 1` <tag> children; the object map over "tag"
    * must emit one triple per tag value.
    */
  private def writeXmlMultiFixtures(s: SparkSession, dir: String): String = {
    val nat = s.read.parquet(s"$dir/nation.parquet")
      .select(col("n_nationkey").cast("long"))
      .orderBy("n_nationkey").collect()
    val xb = new StringBuilder("<nations>\n")
    nat.foreach { r =>
      val k = r.getLong(0)
      xb.append(s"""  <nation id="$k">""")
      (0L to k % 3).foreach(j => xb.append(s"<tag>t${k}_$j</tag>"))
      xb.append("</nation>\n")
    }
    xb.append("</nations>\n")
    fixture(dir, "nations_multi.xml", xb.toString)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    fixture(dir, "mapping_xml_multi.rml.ttl",
      s"""@prefix rr: <http://www.w3.org/ns/r2rml#> .
         |@prefix rml: <http://semweb.mmlab.be/ns/rml#> .
         |@prefix ql: <http://semweb.mmlab.be/ns/ql#> .
         |@prefix ex: <http://ex.org/> .
         |<#NatM> rml:logicalSource [ rml:source "graft_rml_${tag}_nations_multi.xml" ;
         |    rml:referenceFormulation ql:XPath ;
         |    rml:iterator "/nations/nation" ] ;
         |  rr:subjectMap [ rr:template "http://ex.org/n/{@id}" ] ;
         |  rr:predicateObjectMap [ rr:predicate ex:tag ;
         |    rr:objectMap [ rml:reference "tag" ] ] .
         |""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rml_exec" -> ((s, dir) => Rml.execute(s, fixtures(s, "csv", dir,
      "customer", "nation")(writeCsvFixtures(s, dir)))),
    "rml_json" -> ((s, dir) => Rml.execute(s, fixtures(s, "json", dir,
      "nation")(writeJsonFixtures(s, dir)))),
    "rml_xml" -> ((s, dir) => Rml.execute(s, fixtures(s, "xml", dir,
      "nation")(writeXmlFixtures(s, dir)))),
    "rml_xml_multi" -> ((s, dir) => Rml.execute(s, fixtures(s, "xmlm", dir,
      "nation")(writeXmlMultiFixtures(s, dir))).distinct())
  )

  // fixtures are deterministic functions of the tables they read: written
  // once while those are unchanged, so repeated runs (bench reps, verify)
  // time the MAPPING EXECUTION, not the driver-side fixture manufacture
  private def fixtures(s: SparkSession, kind: String, dir: String,
      tables: String*)(write: => String): String =
    graft.Memo("fixture.rml:" + kind, tables.map(t => s"$dir/$t.parquet"),
      s.sessionState.newHadoopConf())(write)

  private val DG = "'<urn:x-arq:DefaultGraph>'"

  val oracles: Map[String, String] = Map(
    "rml_exec" ->
      s"""WITH t AS (
         |  SELECT '<http://ex.org/c/'||c_custkey||'>' AS s,
         |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS p,
         |         '<http://ex.org/Customer>' AS o, $DG AS g FROM customer
         |  UNION ALL SELECT '<http://ex.org/c/'||c_custkey||'>',
         |    '<http://ex.org/name>', '"'||c_name||'"', $DG FROM customer
         |  UNION ALL SELECT '<http://ex.org/c/'||c_custkey||'>',
         |    '<http://ex.org/segment>', '"'||c_mktsegment||'"', $DG FROM customer
         |  UNION ALL SELECT '<http://ex.org/c/'||c_custkey||'>',
         |    '<http://ex.org/key>',
         |    '<http://ex.org/k/'||replace(c_name,'#','%23')||'>', $DG FROM customer
         |  UNION ALL SELECT '<http://ex.org/c/'||c_custkey||'>',
         |    '<http://ex.org/nation>',
         |    '<http://ex.org/n/'||c_nationkey||'>', $DG FROM customer
         |  UNION ALL SELECT '<http://ex.org/seg/'||c_mktsegment||'>',
         |    '<http://ex.org/label>', '"'||c_mktsegment||'"@en',
         |    '<http://ex.org/g/'||c_mktsegment||'>' FROM customer
         |  UNION ALL SELECT '<http://ex.org/n/'||n_nationkey||'>',
         |    '<http://ex.org/nname>',
         |    '"'||n_name||'"^^<http://www.w3.org/2001/XMLSchema#string>',
         |    $DG FROM nation
         |)
         |SELECT DISTINCT s AS subj, p AS pred, o AS obj, g AS graph FROM t""".stripMargin,
    "rml_json" ->
      s"""SELECT DISTINCT '<http://ex.org/n/'||n_nationkey||'>' AS subj,
         |  '<http://ex.org/label>' AS pred, '"'||n_name||'"' AS obj,
         |  $DG AS graph FROM nation""".stripMargin,
    "rml_xml" ->
      s"""SELECT DISTINCT '<http://ex.org/n/'||n_nationkey||'>' AS subj,
         |  '<http://ex.org/label>' AS pred, '"'||n_name||'"' AS obj,
         |  $DG AS graph FROM nation
         |UNION
         |SELECT DISTINCT '<http://ex.org/n/'||n_nationkey||'>',
         |  '<http://ex.org/comment>', '"c'||n_nationkey||'"', $DG
         |FROM nation WHERE n_nationkey % 2 = 0""".stripMargin,
    "rml_xml_multi" ->
      s"""SELECT DISTINCT '<http://ex.org/n/'||n_nationkey||'>' AS subj,
         |  '<http://ex.org/tag>' AS pred,
         |  '"t'||n_nationkey||'_'||j||'"' AS obj, $DG AS graph
         |FROM nation, (SELECT 0 AS j UNION ALL SELECT 1 UNION ALL SELECT 2) t
         |WHERE t.j <= n_nationkey % 3""".stripMargin
  )
}
