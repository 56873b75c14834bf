package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM (run.py launches it with
  * the program's own forked JVM flags and checks the outputs afterwards).
  *
  * The set-up (session plus the workload's warm-up) is timed from JVM
  * start. Untimed warm-up operations follow, then timed operations until
  * their summed time reaches `--seconds` (at least the workload's
  * minimum), then two full collections to read the retained heap. With
  * `--trace 1` every operation is followed by a traced one, and the
  * per-layer table is written too.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR --seconds S
  *   --trace 0|1 --cpus N --flags FILE --result FILE
  */
object Main {

  val Layers = Seq("sources", "rules", "linking", "graphops", "pipeline",
    "materialize", "integrate", "server", "dedup")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a("workload") == "prepare_store") return prepareStore(a)
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val cpus = a("cpus").toInt
    val work = a("work")
    val env = checkFlags(Files.readAllLines(Paths.get(a("flags"))).asScala
      .toSeq.filter(_.nonEmpty))
    val wl = Workload(a("workload"))

    val spark = session(cpus)
    wl.setup(spark, a("input"), s"$work/out")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // untimed: the JIT is still compiling after the set-up's single pass
    val warmS = (1 to wl.warmOps).map { i =>
      val t0 = System.nanoTime(); wl.op(-i); (System.nanoTime() - t0) / 1e9
    }

    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val tracedS = mutable.ArrayBuffer[Double]()
    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()
    val tracer = if (trace) new Tracer(spark.sparkContext) else null
    var heapMb = settle()
    var busy = 0.0
    var k = 0
    // a traced run needs two traced operations for its medians; a third
    // kg_build pair would take the run past its time limit
    val minOps = if (trace) math.min(2, wl.minOps) else wl.minOps
    while (k < minOps || busy < seconds) {
      val t0 = System.nanoTime()
      val rec = try wl.op(k) catch {
        case e: Exception => Map[String, Any]("ok" -> false,
          "error" -> String.valueOf(e.getMessage))
      }
      val dt = (System.nanoTime() - t0) / 1e9
      ops += rec + ("k" -> k) + ("s" -> dt)
      busy += dt
      if (trace) {
        val t1 = System.nanoTime()
        val (rows, extras) = wl.traced(k, tracer)
        tracedS += (System.nanoTime() - t1) / 1e9
        tracer.drain()
        layerSamples += layerTable(tracer, k, rows) ++ extras
        busy += tracedS.last
      }
      k += 1
      if (k % wl.opsPerCollection == 0) heapMb = math.max(heapMb, settle())
    }
    heapMb = math.max(heapMb, settle())
    wl.close()
    spark.stop()

    val out = mutable.LinkedHashMap[String, Any](
      "env" -> env, "setup_s" -> setupS, "warm_s" -> warmS, "ops" -> ops.toSeq,
      "heap_mb" -> heapMb)
    if (trace) {
      val keys = layerSamples.flatMap(_.keys).distinct
      val traced = layerSamples.map(_("traced_op_s")).sorted
      out("layers") = keys.map(key => key ->
        layerSamples.map(_.getOrElse(key, 0.0)).sum / layerSamples.size).toMap +
        ("traced_op_p50_s" ->
          (traced((traced.size - 1) / 2) + traced(traced.size / 2)) / 2)
      out("traced_s") = tracedS.toSeq
      Files.writeString(Paths.get(s"$work/spans.json"), json(tracer.spans.map(s =>
        Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
          "parent" -> s.parent, "op" -> s.opId, "start_ns" -> s.startNs,
          "end_ns" -> s.endNs)).toSeq))
    }
    Files.writeString(Paths.get(a("result")), json(out.toMap))
    // the repository's own DuckDB oracle for the canonical triples
    Files.writeString(Paths.get(s"$work/kg_oracle.sql"),
      graft.pipeline.Kg.canonicalTriplesOracle)
  }

  /** Input preparation for serve_lookup (not timed): the store the
    * kg_build path writes, from the seed's tables.
    */
  def prepareStore(a: Map[String, String]): Unit = {
    val spark = session(a("cpus").toInt)
    val in = a("input")
    graft.materialize.Materializer.write(graft.pipeline.Kg.canonicalTriplesOver(
      graft.sources.Transcripts(spark, in), spark, in), a("result"),
      KgBuild.NBuckets)
    spark.stop()
    Files.writeString(Paths.get(s"${a("work")}/kg_oracle.sql"),
      graft.pipeline.Kg.canonicalTriplesOracle)
  }

  /** Untimed, between operations: two full collections, so the blocks of
    * dead frames that Spark's ContextCleaner releases after the first are
    * gone too (each operation starts from the state a fresh CLI run
    * would leave). Returns the used heap after them, in MB.
    */
  def settle(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** JSON text of maps, sequences and scalars, for the result files. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def session(cpus: Int): SparkSession = {
    // the program's own session settings (graft.Integrate.main)
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The standard per-layer set for one traced op: self time from the
    * spans, task metrics from the listener, rows out from the workload.
    */
  def layerTable(tr: Tracer, opId: Int, rows: Map[Int, Long]): Map[String, Double] = {
    val spans = tr.spans.filter(_.opId == opId)
    val root = spans.find(_.layer == "op").get
    val out = mutable.Map[String, Double]()
    val accs = tr.attribution.synchronized(tr.attribution.bySpan.toMap)
    Layers.foreach { l =>
      val ss = spans.filter(_.layer == l)
      val as = ss.flatMap(s => accs.get(s.id))
      val taskMs = as.flatMap(_.taskMs).sorted
      val median = if (taskMs.isEmpty) 0L else taskMs(taskMs.size / 2)
      out(s"$l.busy_s") = as.map(_.runMs).sum / 1000.0
      out(s"$l.self_s") = ss.map(tr.selfTime).sum
      out(s"$l.rows_out") = ss.map(s => rows.getOrElse(s.id, 0L)).sum.toDouble
      out(s"$l.shuffle_write_bytes") = as.map(_.shuffleWrite).sum.toDouble
      out(s"$l.spill_bytes") = as.map(_.spill).sum.toDouble
      out(s"$l.gc_s") = as.map(_.gcMs).sum / 1000.0
      out(s"$l.wait_s") = as.map(_.waitMs).sum / 1000.0
      out(s"$l.task_skew") =
        if (taskMs.isEmpty) 0.0 else taskMs.last.toDouble / math.max(1L, median)
      out(s"$l.failed_tasks") = as.map(_.failed).sum.toDouble
    }
    val srcBytes = spans.filter(_.layer == "sources")
      .flatMap(s => accs.get(s.id)).map(_.bytesRead).sum
    out("sources.bytes_read") = srcBytes.toDouble
    out("graphops.jobs") = spans.filter(_.layer == "graphops")
      .flatMap(s => accs.get(s.id)).map(_.jobs).sum.toDouble
    out("server.jobs_per_query") = spans.filter(_.layer == "server")
      .flatMap(s => accs.get(s.id)).map(_.jobs).sum.toDouble
    // the root's self time: op wall time no layer span covers
    out("unattributed_s") = tr.selfTime(root)
    // the part of the traced op that matches one untimed op; a workload
    // whose traced op also runs other layers overrides it in its extras
    out("traced_op_s") = root.dur
    out.toMap
  }

  /** `--add-opens X` as one `--add-opens=X`, the form the JVM reports. */
  private def joinPairs(flags: Seq[String]): Seq[String] = flags match {
    case "--add-opens" +: v +: rest => s"--add-opens=$v" +: joinPairs(rest)
    case f +: rest => f +: joinPairs(rest)
    case _ => Nil
  }

  /** The JVM flags in effect must be the program build's forked
    * javaOptions (passed in `expected`), and those must pin the
    * throughput collector, a pre-sized heap and the metaspace trigger.
    */
  def checkFlags(expected: Seq[String]): Map[String, Any] = {
    val actual = joinPairs(ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filterNot(_.startsWith("-Djava.io.tmpdir=")))
    def fail(msg: String) = {
      System.err.println(s"[perfbench] JVM flag check failed: $msg\n" +
        s"  expected: ${expected.mkString(" ")}\n  actual:   ${actual.mkString(" ")}")
      sys.exit(3)
    }
    if (actual != joinPairs(expected)) fail("flags differ from the build's javaOptions")
    def value(prefix: String) = actual.filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).lastOption
    if (!actual.contains("-XX:+UseParallelGC")) fail("-XX:+UseParallelGC missing")
    if (value("-Xms").isEmpty || value("-Xms") != value("-Xmx"))
      fail("-Xms must equal -Xmx")
    if (value("-XX:MetaspaceSize=") != Some("256m"))
      fail("-XX:MetaspaceSize=256m missing")
    Map("jvm_flags" -> actual, "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "available_processors" -> Runtime.getRuntime.availableProcessors())
  }
}
