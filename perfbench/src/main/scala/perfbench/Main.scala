package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one JVM: build the session and the workload's
  * shared artifacts, then run the workload's query list in passes as a
  * closed-loop client, timing each query through full materialization
  * of its result and checking the result's fingerprint.
  *
  * Usage: perfbench.Main <config.json>. The config is written by
  * `perfbench/run.py`; the run writes its result to `config.out`. */
object Main {

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Sample(pass: Int, query: String, seconds: Double,
      error: Option[(String, String)])

  def main(args: Array[String]): Unit = {
    val jvmS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    val cfg = json.readTree(new java.io.File(args(0)))
    val out = cfg.get("out").asText()
    val fixture = cfg.get("fixture").asText()
    val cores = cfg.get("cores").asInt()
    val trace = cfg.get("trace").asBoolean()
    val steps = cfg.get("setup").elements().asScala.map(_.asText()).toSeq

    val spark = Sessions.build(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (trace) Some(new Tracer(spark, cores, t0)) else None
    val stepTimes = steps.map { st =>
      val s0 = System.nanoTime()
      tracer.fold(setupStep(spark, fixture, st))(_.span("setup", st)(setupStep(spark, fixture, st)))
      st -> (System.nanoTime() - s0) / 1e9
    }
    val setupS = jvmS + (System.nanoTime() - t0) / 1e9
    val setup = ListMap("setup_s" -> setupS, "jvm_s" -> jvmS,
      "session_s" -> sessionS) ++ stepTimes.map { case (n, t) => s"${n}_s" -> t }

    val all = SparkEntry.queries
    val oracleGated = SparkEntry.oracleSql.keySet
    val queries = cfg.get("queries").elements().asScala.map(_.asText()).toSeq.map { p =>
      all.keys.find(_.startsWith(p + "_"))
        .getOrElse(sys.error(s"no query named $p in SparkEntry.queries"))
    }
    val expected: Map[String, String] = Option(cfg.get("expected"))
      .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
    val seconds = cfg.get("seconds").asDouble()
    val minWarm = cfg.get("min_warm_passes").asInt()

    // the result every pass of a query must reproduce: the accepted
    // fingerprint when one is given, else the first pass's (checked
    // against the oracle by run.py afterwards); rows-only queries are
    // checked by row count
    val reference = scala.collection.mutable.Map.empty[String, String] ++ expected
    def check(q: String, fp: String): Option[(String, String)] =
      reference.get(q) match {
        case None => reference(q) = fp; None
        case Some(want) if oracleGated(q) && want != fp =>
          Some("WrongResult" -> s"fingerprint $fp, accepted $want")
        case Some(want) if !oracleGated(q) && Fingerprint.rowsOf(want) != Fingerprint.rowsOf(fp) =>
          Some("WrongResult" -> s"rows ${Fingerprint.rowsOf(fp)}, accepted ${Fingerprint.rowsOf(want)}")
        case _ => None
      }

    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    val sc = spark.sparkContext
    def runQuery(q: String): Option[(String, String)] =
      try {
        val df = all(q)(spark, fixture)
        val fp = Fingerprint.of(df).toString
        tracer.filter(_.enabled).foreach(_.planPhases(df.queryExecution.tracker))
        check(q, fp)
      } catch {
        case NonFatal(e) => Some(e.getClass.getName -> String.valueOf(e.getMessage))
      }
    def runPass(p: Int, traced: Boolean): Unit = {
      val tr = tracer.filter(_ => traced)
      tracer.foreach(_.enabled = traced)
      val w0 = System.nanoTime()
      def body(): Unit = for (q <- queries) {
        sc.setJobGroup(s"perfbench:$p:$q", q, interruptOnCancel = false)
        val s0 = System.nanoTime()
        val err = tr.fold(runQuery(q))(_.query(p, q)(runQuery(q)))
        samples += Sample(p, q, (System.nanoTime() - s0) / 1e9, err)
        sc.clearJobGroup()
      }
      tr.fold(body())(_.pass(p)(body()))
      passWalls += ((p, traced, (System.nanoTime() - w0) / 1e9))
      // this pass's events reach the tracer before the next pass sets its flag
      tracer.foreach(_.drain())
    }

    runPass(0, traced = trace)
    // warm passes: at least minWarm, then whole passes while the next one
    // still fits in `seconds`. Traced runs alternate traced and untraced
    // passes, so the tracing overhead is measured inside the run.
    val warm0 = System.nanoTime()
    var p = 1
    while (p <= minWarm * (if (trace) 2 else 1) ||
        (System.nanoTime() - warm0) / 1e9 + passWalls.last._3 <= seconds) {
      runPass(p, traced = trace && p % 2 == 1)
      p += 1
    }
    tracer.foreach(_.enabled = true)
    // the workload's own peak: read before the untimed dump and probes
    val peak = peakRssMb()

    // dump mode (a seed without accepted fingerprints): write each result
    // that reproduced in every pass for the oracle, untimed, as one file
    // so the oracle compare sees the result's row order
    val dump = Option(cfg.get("dump")).map(_.asText())
    def writeDump(dir: String): Seq[String] =
      queries.filter(q => !samples.exists(s => s.query == q && s.error.nonEmpty)).map { q =>
        all(q)(spark, fixture).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        q
      }
    val dumped = dump.toSeq.flatMap(d => tracer.fold(writeDump(d))(_.span("dump", "oracle dump")(writeDump(d))))
    if (dump.nonEmpty)
      json.writeValue(new java.io.File(s"${dump.get}/oracle_sql.json"),
        SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) })

    val layers = tracer.map { t =>
      t.enabled = true
      val probes = Probes.run(spark, fixture, t)
      t.runEnd()
      t.metrics(probes, setup) ++
        Map("spans" -> t.writeSpans(cfg.get("spans").asText()))
    }
    write(out, ListMap(
      "workload" -> cfg.get("workload").asText(),
      "queries" -> queries,
      "rows_only" -> queries.filterNot(oracleGated),
      "setup" -> setup,
      "passes" -> passWalls.map { case (i, tr, w) =>
        ListMap("pass" -> i, "traced" -> tr, "wall_s" -> w) },
      "samples" -> samples.map(s => ListMap("pass" -> s.pass, "query" -> s.query,
        "seconds" -> s.seconds,
        "error" -> s.error.map { case (c, m) => ListMap("class" -> c, "message" -> m) }.orNull)),
      "reference" -> reference.toMap,
      "dumped" -> dumped,
      "peak_rss_mb" -> peak,
      "layers" -> layers.orNull))
    spark.stop()
  }

  /** A shared artifact the workload's queries read; built before the
    * first query, as a deployment builds it once at ingest time. */
  private def setupStep(spark: SparkSession, fixture: String, step: String): Unit = step match {
    case "scenes" => graft.ops.Spatial.scenesTable(spark, fixture).count(); ()
    case "components" => graft.ops.Graph.warmComponents(spark, fixture)
    case other => sys.error(s"unknown setup step $other")
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private def write(path: String, v: AnyRef): Unit =
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), v)
}
