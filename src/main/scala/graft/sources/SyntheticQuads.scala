package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F3 fixture: the reference's synthetic named-graph benchmark corpus
  * (`ngs-create-test-data.sh`: `<urn:graph-i> { <urn:s-i> eg:idx i }`),
  * derived deterministically from the `orders` keys so the DuckDB oracle
  * can reproduce it.
  */
object SyntheticQuads {

  val IdxPred = "<http://www.example.org/idx>"
  val HashPred = "<http://www.example.org/hash>"

  def apply(spark: SparkSession, sfDir: String): DataFrame = {
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey").cast("string").as("k"))
    o.select(
      concat(lit("<urn:graph-"), col("k"), lit(">")).as("graph"),
      concat(lit("<urn:s-"), col("k"), lit(">")).as("subj"),
      lit(IdxPred).as("pred"),
      concat(lit("\""), col("k"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#integer>")).as("obj"),
      col("k").cast("long").as("idx"))
  }

  /** Lockstep DuckDB CTE: quads(graph, subj, pred, obj, idx). */
  def oracleCte: String =
    """quads AS (
      |  SELECT '<urn:graph-' || CAST(o_orderkey AS VARCHAR) || '>' AS graph,
      |         '<urn:s-' || CAST(o_orderkey AS VARCHAR) || '>' AS subj,
      |         '<http://www.example.org/idx>' AS pred,
      |         '"' || CAST(o_orderkey AS VARCHAR) || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj,
      |         o_orderkey AS idx
      |  FROM orders
      |)""".stripMargin

  /** F2-flavoured triples with mixed subject kinds (IRI / bnode / literal)
    * from `customer`, for the `ngs subjects` graph-crafting rules. The
    * literal lexical forms stay in [A-Za-z0-9 ] so the oracle can mirror
    * url_encode with a space→'+' replace.
    */
  def mixedSubjectTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").cast("long").as("k"), col("c_name"),
        col("c_mktsegment"))
    val subj = when(col("k") % 3 === 0,
        concat(lit("<http://example.org/cust/"), col("k").cast("string"), lit(">")))
      .when(col("k") % 3 === 1, concat(lit("_:b"), col("k").cast("string")))
      .otherwise(concat(lit("\"cust "), col("k").cast("string"), lit("\"")))
    // one scan (r10): both property triples from one row array instead
    // of a 2-way unionAll (2 scans)
    c.select(explode(array(
        struct(subj.as("subj"), lit("<http://example.org/name>").as("pred"),
          concat(lit("\""), col("c_name"), lit("\"")).as("obj")),
        struct(subj.as("subj"), lit("<http://example.org/segment>").as("pred"),
          concat(lit("\""), col("c_mktsegment"), lit("\"")).as("obj")))).as("t"))
      .select(col("t.subj").as("subj"), col("t.pred").as("pred"),
        col("t.obj").as("obj"))
  }

  /** VoID-profiling fixture for the sportal battery (reference
    * use-case-sportal-analysis): a triple table with everything the 33
    * qa…qf queries discriminate on — rdf:type edges (incl. multi-typed
    * subjects for qc3's `?s a ?t , ?o`), IRI / literal / blank-node
    * subjects AND objects (qf1–qf8 kind counts), typed bnode objects
    * (qf10's `?o a ?oType`). IRIs stay in [A-Za-z0-9:/.] so the oracle
    * can mirror ENCODE_FOR_URI with two replaces (':'→%3A, '/'→%2F —
    * every other char is RFC 3986 unreserved).
    */
  def sportalTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val RdfType = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").cast("long").as("k"), col("c_name"),
        col("c_mktsegment").as("seg"), col("c_nationkey").cast("long").as("n"))
    val cust = concat(lit("<http://ex.org/c/"), col("k"), lit(">"))
    val addr = concat(lit("_:a"), col("k"))
    val nat = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(concat(lit("<http://ex.org/n/"),
        col("n_nationkey").cast("long"), lit(">")).as("subj"))
    // ONE customer scan (r10, guide §2.4): the seven per-branch
    // projections used to be a 7-way unionAll, i.e. seven scans of the
    // customer table per consuming query — here they compile into one
    // conditional triple array exploded in place (the RuleCompiler
    // shape), same triple set
    def t(s: Column, p: String, o: Column) =
      struct(s.as("s"), lit(p).as("p"), o.as("o"))
    val emptyArr = array().cast("array<struct<s:string,p:string,o:string>>")
    val always = array(
      t(cust, RdfType, concat(lit("<http://ex.org/seg/"), col("seg"), lit(">"))),
      t(cust, "<http://ex.org/name>",
        concat(lit("\""), col("c_name"), lit("\""))),
      t(cust, "<http://ex.org/nation>",
        concat(lit("<http://ex.org/n/"), col("n"), lit(">"))))
    val even = when(col("k") % 2 === 0,
      array(t(cust, RdfType, lit("<http://ex.org/Even>")))).otherwise(emptyArr)
    val mod5 = when(col("k") % 5 === 0, array(
      t(cust, "<http://ex.org/addr>", addr),
      t(addr, "<http://ex.org/zip>", concat(lit("\"Z"), col("k"), lit("\""))),
      t(addr, RdfType, lit("<http://ex.org/Addr>")))).otherwise(emptyArr)
    c.withColumn("__t3", concat(always, even, mod5))
      .select(explode(col("__t3")).as("t"))
      .select(col("t.s").as("subj"), col("t.p").as("pred"),
        col("t.o").as("obj"))
      .unionAll(nat.select(col("subj"), lit(RdfType).as("pred"),
        lit("<http://ex.org/Nation>").as("obj")))
  }

  /** Lockstep DuckDB CTE: sportal(subj, pred, obj). */
  def sportalOracleCte: String =
    """sportal AS (
      |  SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>' AS subj,
      |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>' AS pred,
      |         '<http://ex.org/seg/' || c_mktsegment || '>' AS obj
      |  FROM customer
      |  UNION ALL
      |  SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>',
      |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
      |         '<http://ex.org/Even>'
      |  FROM customer WHERE c_custkey % 2 = 0
      |  UNION ALL
      |  SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>',
      |         '<http://ex.org/name>', '"' || c_name || '"'
      |  FROM customer
      |  UNION ALL
      |  SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>',
      |         '<http://ex.org/nation>',
      |         '<http://ex.org/n/' || CAST(c_nationkey AS VARCHAR) || '>'
      |  FROM customer
      |  UNION ALL
      |  SELECT '<http://ex.org/c/' || CAST(c_custkey AS VARCHAR) || '>',
      |         '<http://ex.org/addr>', '_:a' || CAST(c_custkey AS VARCHAR)
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT '_:a' || CAST(c_custkey AS VARCHAR),
      |         '<http://ex.org/zip>', '"Z' || CAST(c_custkey AS VARCHAR) || '"'
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT '_:a' || CAST(c_custkey AS VARCHAR),
      |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
      |         '<http://ex.org/Addr>'
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT '<http://ex.org/n/' || CAST(n_nationkey AS VARCHAR) || '>',
      |         '<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>',
      |         '<http://ex.org/Nation>'
      |  FROM nation
      |)""".stripMargin

  def mixedSubjectOracleCte: String =
    """mixed AS (
      |  SELECT CASE WHEN c_custkey % 3 = 0 THEN '<http://example.org/cust/' || CAST(c_custkey AS VARCHAR) || '>'
      |              WHEN c_custkey % 3 = 1 THEN '_:b' || CAST(c_custkey AS VARCHAR)
      |              ELSE '"cust ' || CAST(c_custkey AS VARCHAR) || '"' END AS subj,
      |         '<http://example.org/name>' AS pred,
      |         '"' || c_name || '"' AS obj
      |  FROM customer
      |  UNION ALL
      |  SELECT CASE WHEN c_custkey % 3 = 0 THEN '<http://example.org/cust/' || CAST(c_custkey AS VARCHAR) || '>'
      |              WHEN c_custkey % 3 = 1 THEN '_:b' || CAST(c_custkey AS VARCHAR)
      |              ELSE '"cust ' || CAST(c_custkey AS VARCHAR) || '"' END,
      |         '<http://example.org/segment>',
      |         '"' || c_mktsegment || '"'
      |  FROM customer
      |)""".stripMargin
}
