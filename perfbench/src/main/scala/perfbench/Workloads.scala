package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.Integrate
import graft.dedup.Dedup
import graft.linking.Gazetteer
import graft.materialize.Materializer
import graft.pipeline.{Kg, Script}
import graft.rules.ConstructParser
import graft.server.SparqlHttpServer
import graft.sources.Transcripts

/** Order-independent digest of a multiset of lines: the line count and the
  * sum, modulo 2^64, of the first 8 bytes of each line's MD5 read as an
  * unsigned big-endian number. oracle.py computes the same digest over the
  * expected lines, so a match means equal multisets up to MD5 collisions.
  */
final class LineDigest {
  private val md = MessageDigest.getInstance("MD5")
  var lines = 0L
  var sum = 0L
  def add(line: String): Unit = {
    val h = md.digest(line.getBytes(UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    sum += v
    lines += 1
  }
  def hex: String = java.lang.Long.toUnsignedString(sum)
}

/** One workload: a program-side set-up (warm-up included) on the seed's
  * inputs, a timed operation that forces its whole
  * output through the sink a user would use, and a traced variant that
  * runs the same inputs layer by layer through the layers' public calls.
  */
trait Workload {
  def setup(spark: SparkSession, in: String, work: String): Unit
  /** One timed operation; returns its record for the result file. */
  def op(k: Int): Map[String, Any]
  /** One traced operation; returns rows out per span id and extras. */
  def traced(k: Int, tr: Tracer): (Map[Int, Long], Map[String, Double])
  def close(): Unit = ()
  /** Minimum operations per run, so a median exists. */
  def minOps: Int = 3
  /** Untimed operations between the set-up and the timed phase. */
  def warmOps: Int = 3
  /** Timed operations between two heap settles (see Main.settle). */
  def opsPerCollection: Int = 1
}

object Workload {
  def apply(name: String): Workload = name match {
    case "kg_build" => new KgBuild
    case "serve_lookup" => new ServeLookup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def treeStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        (files.map(Files.size).sum, files.size.toLong)
      } finally s.close()
    }
}

/** The flagship write path: transcripts -> rules + linking + CC ->
  * distinct -> bucketed parquet store, then the lineage check.
  */
final class KgBuild extends Workload {
  val NBuckets = KgBuild.NBuckets
  private var spark: SparkSession = _
  private var in: String = _
  private var work: String = _
  private val dedup = new DedupTrace
  // the set-up's operation plus two: operation times still fall over the
  // second and third operations of a JVM (measured)
  override def warmOps: Int = 2

  private def build(out: String): Boolean = {
    Materializer.write(
      Kg.canonicalTriplesOver(Transcripts(spark, in), spark, in), out, NBuckets)
    Materializer.verifyCounts(spark, out)
  }

  def setup(s: SparkSession, in: String, work: String): Unit = {
    spark = s; this.in = in; this.work = work
    require(build(s"$work/warm"), "verifyCounts failed during set-up")
  }

  def op(k: Int): Map[String, Any] = {
    val out = s"$work/op_$k"
    val ok = build(out)
    Map("ok" -> ok, "store" -> out)
  }

  /** The op's own plan, `Kg.canonicalTriplesOver` over checkpointed
    * transcripts, run layer by layer: the inputs of its union (rule
    * triples, mention triples, alias triples) are checkpointed one by one
    * in their layers' spans, then the plan runs again over them.
    */
  def traced(k: Int, tr: Tracer): (Map[Int, Long], Map[String, Double]) = {
    val out = s"$work/traced_$k"
    val ids = scala.collection.mutable.Map[String, Int]()
    def sp[T](layer: String, name: String)(f: => T): T =
      tr.span(layer, name, k) { ids(layer) = tr.spans.size - 1; f }
    var t, base, m, cc, aliasT, d, docs: DataFrame = null
    var docsId, integRun = -1
    var dedupRows = Map.empty[Int, Long]
    val integ = new IntegrateTrace(spark, in, work)
    var lowerS, planS = 0.0
    var kgEndNs = 0L
    val root = sp("op", "kg_build") {
      val id = tr.spans.size - 1
      t = sp("sources", "Transcripts") {
        Transcripts(spark, in).localCheckpoint(true)
      }
      cc = sp("graphops", "Kg.aliasCc") { Kg.aliasCc(spark, in) }
      val (kg, inputs) = tr.span("pipeline", "Kg.canonicalTriplesOver", k) {
        val t0 = System.nanoTime()
        val kg = Kg.canonicalTriplesOver(t, spark, in)
        val inputs = PerfbenchBridge.unionInputs(kg)
        lowerS += (System.nanoTime() - t0) / 1e9
        (kg, inputs)
      }
      require(inputs.size == 3, "Kg.canonicalTriplesOver is no longer a " +
        s"union of rule, mention and alias triples (${inputs.size} inputs)")
      base = sp("rules", "TranscriptRules.triples") {
        inputs(0).localCheckpoint(true)
      }
      m = sp("linking", "Gazetteer.mentionsRaw+canonical join") {
        inputs(1).localCheckpoint(true)
      }
      aliasT = inputs(2)
      d = sp("pipeline", "union+distinct") {
        val t0 = System.nanoTime()
        val lowered = PerfbenchBridge.withUnionInputs(kg, Seq(base, m, aliasT))
        val t1 = System.nanoTime()
        lowered.queryExecution.executedPlan
        val t2 = System.nanoTime()
        lowerS += (t1 - t0) / 1e9; planS = (t2 - t1) / 1e9
        lowered.localCheckpoint(true)
      }
      sp("materialize", "Materializer.write+verifyCounts") {
        Materializer.write(d, out, NBuckets)
        require(Materializer.verifyCounts(spark, out), "verifyCounts failed")
      }
      kgEndNs = System.nanoTime()
      // the dedup and integrate layers have no workload of their own:
      // they run over this workload's documents table and N-Quads file,
      // inside the traced operation only
      docs = tr.span("sources", "documents", k) {
        spark.read.parquet(s"$in/documents.parquet")
          .select(col("doc_id"), col("text")).localCheckpoint(true)
      }
      docsId = tr.spans.size - 1
      dedupRows = dedup.spans(docs, k, tr)
      integRun = integ.run(k, tr)
      id
    }
    val (integRows, integExtras) = integ.parts(k, tr, integRun)
    // counts run after the op span closed: unattributed, untimed
    val (nT, nBase, nM, nCc, nAlias, nD) =
      (t.count(), base.count(), m.count(), cc.count(), aliasT.count(), d.count())
    val lengths = Gazetteer.surfaceTokenLengthsAndCount(Gazetteer(spark, in))._1
    val windows = Gazetteer.ngramSpanHashes(t, lengths).count()
    val edges = Gazetteer.aliasEdges(spark, in).count()
    val committed = spark.read.parquet(s"$out/triples").count()
    val (bytes, files) = Workload.treeStats(Paths.get(out))
    val before = nBase + nM + nAlias
    val rows = Map(ids("sources") -> nT, ids("rules") -> nBase,
      ids("graphops") -> nCc, ids("linking") -> nM, ids("pipeline") -> nD,
      ids("materialize") -> committed, docsId -> docs.count()) ++
      dedupRows ++ integRows
    (rows, dedup.probe(docs) ++ integExtras ++ Map(
      // the traced counterpart of one untimed op: up to the materialize
      // layer's end, without the dedup and integrate layers after it
      "traced_op_s" -> (kgEndNs - tr.spans(root).startNs) / 1e9,
      "linking.windows_probed" -> windows.toDouble,
      "linking.hit_ratio" -> nM.toDouble / math.max(1L, windows),
      "graphops.edges_in" -> edges.toDouble,
      "pipeline.rows_before_distinct" -> before.toDouble,
      "pipeline.distinct_keep_ratio" -> nD.toDouble / math.max(1L, before),
      "pipeline.lower_s" -> (lowerS + integExtras("pipeline.lower_s")),
      "pipeline.plan_s" -> (planS + integExtras("pipeline.plan_s")),
      "materialize.bytes_written" -> bytes.toDouble,
      "materialize.files_written" -> files.toDouble))
  }
}

/** The integrate layer, traced inside kg_build's traced operation: the
  * integrate CLI over the workload's N-Quads file and BGP script (N-Quads
  * in, CONSTRUCT + SELECT, `-o` N-Quads out, the SELECT's TSV to the error
  * stream). [[run]] times the whole call in an `integrate` span under the
  * open span; [[parts]] re-runs its parts in-process afterwards as that
  * span's children.
  */
final class IntegrateTrace(spark: SparkSession, in: String, work: String) {

  /** Returns the `integrate` span's id. */
  def run(k: Int, tr: Tracer): Int = tr.span("integrate", "Integrate.run", k) {
    val id = tr.spans.size - 1
    val err = new java.io.ByteArrayOutputStream()
    val code = Integrate.run(
      Array(s"$in/data.nq", s"$in/script.sparql", "-o", s"$work/integrate_$k.nq"),
      spark, new java.io.PrintStream(new java.io.ByteArrayOutputStream()),
      new java.io.PrintStream(err))
    require(code == 0, s"Integrate.run exited $code: $err")
    id
  }

  /** Parse, LOAD and the statements again, as children of span `runId`;
    * returns rows out per span id and the parse, lower and plan times.
    */
  def parts(k: Int, tr: Tracer, runId: Int): (Map[Int, Long], Map[String, Double]) = {
    val parent = Some(runId)
    val script = Files.readString(Paths.get(s"$in/script.sparql"))
    var parseId, loadId, pipeId = -1
    val parts = tr.span("rules", "ConstructParser.parseScriptParts", k, parent) {
      parseId = tr.spans.size - 1
      ConstructParser.parseScriptParts(Seq(s"LOAD <$in/data.nq>", script))
    }
    var lowerS, planS = 0.0
    val outs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    val session = spark
    import session.implicits._
    val stmts = parts.map(_._2)
    var ds = tr.span("sources", "LOAD (RdfIO.readRdfAuto)", k, parent) {
      loadId = tr.spans.size - 1
      Script.applyStmt(spark, Seq.empty[(String, String, String, String)]
        .toDF("graph", "subj", "pred", "obj"), stmts.head)._1
    }
    tr.span("pipeline", "applyStmt+plan+execute", k, parent) {
      pipeId = tr.spans.size - 1
      stmts.tail.foreach { st =>
        val a = System.nanoTime()
        val (next, o) = Script.applyStmt(spark, ds, st)
        ds = next
        val b = System.nanoTime()
        o.foreach { x =>
          x.df.queryExecution.executedPlan
          val c = System.nanoTime()
          Workload.noop(x.df)
          planS += (c - b) / 1e9
          outs += x.df
        }
        lowerS += (b - a) / 1e9
      }
    }
    val lines = Files.lines(Paths.get(s"$work/integrate_$k.nq"))
    val written = try lines.count() finally lines.close()
    (Map(parseId -> stmts.size.toLong, loadId -> ds.count(),
      pipeId -> outs.map(_.count()).sum, runId -> written),
      Map("rules.parse_s" -> tr.spans(parseId).dur,
        "pipeline.lower_s" -> lowerS, "pipeline.plan_s" -> planS))
  }
}

/** The read path: the SPARQL server over the materialized parquet store,
  * one client in a closed loop over a seeded GRAPH-scoped query mix.
  * One operation is one query.
  */
final class ServeLookup extends Workload {
  final case class Q(id: Int, kind: String, text: String)

  private var spark: SparkSession = _
  private var server: SparqlHttpServer = _
  private var ds: DataFrame = _
  private var queries: IndexedSeq[Q] = _
  private var client: HttpClient = _
  override def minOps: Int = 20
  override def warmOps: Int = 4
  override def opsPerCollection: Int = 16

  def setup(s: SparkSession, in: String, work: String): Unit = {
    spark = s
    queries = Files.readAllLines(Paths.get(s"$in/queries.tsv")).asScala
      .map(_.split("\t", 3)).map(a => Q(a(0).toInt, a(1), a(2))).toIndexedSeq
    ds = spark.read.parquet(s"$in/store/triples")
      .select(col("graph"), col("subj"), col("pred"), col("obj"))
    server = SparqlHttpServer.start(spark, ds, port = 0, readOnly = true)
    client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .executor(java.util.concurrent.Executors.newSingleThreadExecutor(r => {
        val t = new Thread(r, "perfbench-client"); t.setDaemon(true); t
      })).build()
    // one query per kind: codegen and the server's first-request paths
    queries.groupBy(_.kind).values.map(_.head).foreach { q =>
      val r = request(q)
      require(r("status") == 200, s"warm-up query ${q.id} got ${r("status")}")
    }
  }

  private def accept(kind: String): String = kind match {
    case "ask" => "application/sparql-results+json"
    case "construct_role" => "application/n-quads"
    case _ => "text/tab-separated-values"
  }

  /** Send one query and consume the whole body into a digest. */
  def request(q: Q): Map[String, Any] = {
    val uri = URI.create(s"http://127.0.0.1:${server.port}/sparql?query=" +
      java.net.URLEncoder.encode(q.text, UTF_8))
    val req = HttpRequest.newBuilder(uri).header("Accept", accept(q.kind))
      .GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(resp.body(), UTF_8))
    val dg = new LineDigest
    var bytes = 0L
    val body = new StringBuilder
    try {
      var line = rd.readLine()
      var first = true
      while (line != null) {
        bytes += line.length + 1
        if (q.kind == "ask") body.append(line)
        else if (!(first && q.kind != "construct_role")) dg.add(line)
        first = false
        line = rd.readLine()
      }
    } finally rd.close()
    Map("ok" -> (resp.statusCode() == 200), "status" -> resp.statusCode(),
      "query" -> q.id, "lines" -> dg.lines, "digest" -> dg.hex,
      "body" -> (if (q.kind == "ask") body.toString else ""), "bytes" -> bytes)
  }

  def op(k: Int): Map[String, Any] =
    request(queries(Math.floorMod(k, queries.size)))

  def traced(k: Int, tr: Tracer): (Map[Int, Long], Map[String, Double]) = {
    val q = queries(k % queries.size)
    var srvSpan = -1
    var resp: Map[String, Any] = null
    tr.span("op", "serve_lookup", k) {
      tr.span("server", "HTTP GET /sparql", k) {
        srvSpan = tr.spans.size - 1
        resp = request(q)
      }
    }
    require(resp("status") == 200, s"query ${q.id} got ${resp("status")}")
    val parent = Some(srvSpan)
    var parseId, pipeId = -1
    val stmts = tr.span("rules", "ConstructParser.parseScript", k, parent) {
      parseId = tr.spans.size - 1
      ConstructParser.parseScript(q.text)
    }
    var lowerS, planS = 0.0
    tr.span("pipeline", "applyStmt+plan+execute", k, parent) {
      pipeId = tr.spans.size - 1
      val a = System.nanoTime()
      val df = Script.applyStmt(spark, ds, stmts.head)._2.get.df
      val b = System.nanoTime()
      df.queryExecution.executedPlan
      val c = System.nanoTime()
      Workload.noop(df)
      lowerS = (b - a) / 1e9; planS = (c - b) / 1e9
    }
    val n = resp("lines").asInstanceOf[Long]
    (Map(srvSpan -> n, parseId -> stmts.size.toLong, pipeId -> n),
      Map("rules.parse_s" -> tr.spans(parseId).dur,
        "pipeline.lower_s" -> lowerS, "pipeline.plan_s" -> planS,
        "server.bytes_out" -> resp("bytes").asInstanceOf[Long].toDouble))
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** The dedup layer, traced over a (doc_id, text) table inside another
  * workload's traced operation: `Dedup.exact` and `Dedup.minhashPairs`
  * collected, each in a span; the LSH stages one by one once per run,
  * outside any span, for their times and the counts the pair call never
  * exposes.
  */
final class DedupTrace {
  private var probed: Map[String, Double] = null

  /** Spans under the open span; returns rows out per span id. */
  def spans(docs: DataFrame, k: Int, tr: Tracer): Map[Int, Long] = {
    val nEx = tr.span("dedup", "Dedup.exact", k) {
      Dedup.exact(docs).collect().length.toLong
    }
    val exId = tr.spans.size - 1
    val nPairs = tr.span("dedup", "Dedup.minhashPairs", k) {
      Dedup.minhashPairs(docs, n = 3, threshold = 0.6)
        .select(col("a"), col("b")).collect().length.toLong
    }
    Map(exId -> nEx, (tr.spans.size - 1) -> nPairs)
  }

  def probe(d: DataFrame): Map[String, Double] = {
    if (probed != null) return probed
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val ex = Dedup.exact(d)
    val reps = d.join(ex.filter(col("doc_id") === col("rep_id"))
      .select("doc_id"), "doc_id")
    val (sh, shS) = timed(Dedup.hashedShingles(reps, 3).localCheckpoint(true))
    val (sig, sigS) = timed(Dedup.minhashSignatures(sh, 32).localCheckpoint(true))
    val (bk, bkS) = timed(Dedup.lshBuckets(sig, 32, 4).localCheckpoint(true))
    val cand = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    val maxBucket = bk.groupBy("band", "key").count()
      .agg(max("count")).head.getLong(0)
    val repPairs = Dedup.minhashPairs(reps, n = 3, threshold = 0.6).count()
    probed = Map("dedup.candidate_pairs" -> cand.toDouble,
        "dedup.verified_pairs" -> repPairs.toDouble,
        "dedup.verify_ratio" -> repPairs.toDouble / math.max(1L, cand),
        "dedup.max_bucket_rows" -> maxBucket.toDouble,
        "dedup.shingles_s" -> shS, "dedup.signatures_s" -> sigS,
        "dedup.buckets_s" -> bkS)
    probed
  }
}

object KgBuild {
  /** Store layout: graph-hash buckets. 8 keeps files per bucket near one
    * per task at this input size, as a user would size it.
    */
  val NBuckets = 8
}
