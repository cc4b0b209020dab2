package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's JVM side. One process runs one workload: it sets up,
  * measures for the given number of seconds with one closed-loop client,
  * checks every output, and prints one result line. See README.md. */
object Main {
  val Workloads = Seq("problem_lookup", "continual_ingest")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, master: String, tiny: Boolean, artifact: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("master"), m.get("tiny").contains("1"),
      need("artifact"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    // Inputs are built on the batch profile. problem_lookup's requests run
    // on a session with GraftSession.interactive's settings; it is derived
    // from the batch session because a JVM holds one active session.
    val spark = GraftSession.batch(a.master)
    spark.sparkContext.setLogLevel("ERROR")
    val timed =
      if (a.workload != "problem_lookup") spark
      else {
        val s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", "1")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s
      }
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(timed)
    val run = new Run(spark, tracer, a.seed, a.tiny)
    val named = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    val extra = mutable.HashMap.empty[String, Double]
    var buildS = 0.0
    var warmS = 0.0
    var firstOpMs = 0L
    var overhead = 0.0

    /** Runs units until `seconds` have passed since the first began, at
      * least one; `after` follows each unit outside its timed interval. A traced run alternates untraced
      * and traced units in the order U T T U ..., at least four, so warm-up
      * drift does not bias the overhead estimate. */
    def loop(unit: Int => Unit, after: Int => Unit = _ => ()): Unit = {
      firstOpMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || (a.trace && i < 4) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        val traced = a.trace && (i % 4 == 1 || i % 4 == 2)
        if (traced) tracer.attach()
        val (_, ms) = run.timeMs(unit(i))
        if (traced) tracer.detach()
        run.units += ((ms, traced))
        after(i)
        i += 1
      }
      if (a.trace) {
        val (tr, un) = run.units.partition(_._2)
        overhead = Stats.median(tr.map(_._1).toSeq) / Stats.median(un.map(_._1).toSeq) - 1
      }
    }
    def build(body: String => Unit): Unit =
      buildS = run.timeMs(run.setupStep("build")(body(s"${a.work}/build")))._2 / 1000
    /** Set-up ends with untimed cycles of the workload (their outputs are
      * checked too), so JIT, codegen and caches are warm when timing starts. */
    def warm(body: => Unit): Unit = {
      run.warming = true
      warmS = run.timeMs(body)._2 / 1000
      run.warming = false
    }

    try a.workload match {
      case "problem_lookup" =>
        val w = new ProblemLookup(run, timed)
        build(w.build)
        warm {
          w.certify()
          for (_ <- 1 to ProblemLookup.WarmSessions) w.session()
        }
        loop(_ => w.session())
        extra("table_files") = w.tableFiles.toDouble
        val reqs = run.samples.filter(s => ProblemLookup.Kinds.contains(s.kind))
        named("open_p50_ms") = med(run.samples.filter(_.kind == "open").map(_.ms), "ms")
        named("session_p50_ms") = med(run.units.map(_._1), "ms")
        named("query_p50_ms") = med(reqs.map(_.ms), "ms")
        tail(reqs.map(_.ms)).foreach(t => named("query_p90_ms") = t)
        for (k <- ProblemLookup.Kinds)
          named(s"${k}_p50_ms") = med(run.samples.filter(_.kind == k).map(_.ms), "ms")
        run.info("problems") = w.arena.shapes.size
        run.info("observation_rows") = w.arena.observationRows
        run.info("table_files") = w.tableFiles
        run.info("sessions") = run.units.size
        run.info("requests") = reqs.size

      case "continual_ingest" =>
        val w = new ContinualIngest(run)
        build(w.build)
        warm {
          w.sequence(s"${a.work}/warm")
          w.verify(s"${a.work}/warm")
          DataFiles.delete(s"${a.work}/warm")
        }
        var files, bytes = Seq.empty[Double]
        loop(i => w.sequence(s"${a.work}/seq$i"), { i =>
          val dir = s"${a.work}/seq$i"
          w.verify(dir)
          files :+= DataFiles.list(s"$dir/observations").size.toDouble
          bytes :+= DataFiles.bytes(s"$dir/observations").toDouble
          DataFiles.delete(dir)
        })
        extra("table_files") = Stats.median(files)
        val wall = run.units.map(_._1).sum / 1000
        named("ingest_obs_per_s") = (w.committedRows * run.units.size / wall, "obs/s", run.units.size)
        named("append_p50_ms") = med(run.steps.getOrElse("lake.append", Nil).toSeq, "ms")
        named("stored_bytes_per_obs") = (Stats.median(bytes) / w.committedRows, "B/obs", bytes.size)
        run.info("problems") = w.arena.shapes.size
        run.info("observation_rows") = w.committedRows
        run.info("commits_per_sequence") = w.arena.runs
        run.info("sequences") = run.units.size
        run.info("table_files") = Stats.median(files)
    } catch {
      case NonFatal(e) =>
        run.setupErrors += s"aborted: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }

    val setupS = sessionS + buildS + warmS
    named("setup_s") = (setupS, "s", 1)
    named("error_rate") = (if (run.attempted == 0) 1.0 else run.failed.toDouble / run.attempted,
      "ratio", run.attempted)
    val ops = a.workload match {
      case "problem_lookup" => run.samples.filter(s => ProblemLookup.Kinds.contains(s.kind))
      case _ => run.samples
    }
    val unitsWall = run.units.map(_._1).sum / 1000
    val rows = a.workload match {
      case "continual_ingest" => named.get("ingest_obs_per_s").map(_._1 * unitsWall).getOrElse(0.0)
      case _ => run.resultRows
    }
    named("rows_per_s") = (if (unitsWall > 0) rows / unitsWall else 0.0, "rows/s", run.units.size)
    named("op_cpu_p50_ms") = med(ops.map(_.cpuMs), "ms")
    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(ops.map(_.ms).toSeq), "ms"),
      "ops_per_s" -> (if (unitsWall > 0) ops.size / unitsWall else 0.0, "1/s"))
    val layers = if (a.trace) Layers.compute(tracer, overhead, extra.toMap) else mutable.LinkedHashMap.empty[String, Double]
    val correct = run.setupErrors.isEmpty && run.failures.isEmpty && run.failed == 0 &&
      run.attempted > 0

    // human-readable summary, then the artifact and the result line
    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"master=${a.master} attempted=${run.attempted} failed=${run.failed}")
    named.foreach { case (k, (v, u, n)) => println(f"  $k%-24s $v%14.4f $u%-6s (n=$n)") }
    endToEnd.foreach { case (k, (v, u)) => println(f"  [e2e] $k%-18s $v%14.4f $u") }
    layers.foreach { case (k, v) => println(f"  [layer] $k%-32s $v%14.4f") }
    run.setupErrors.foreach(e => println(s"  SETUP ERROR $e"))
    run.failures.take(20).foreach(e => println(s"  FAILED $e"))

    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "master" -> a.master,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "xmx_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"),
      "tiny" -> a.tiny,
      "sizes" -> run.info,
      "setup" -> Map("session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS,
        "process_start_to_first_op_s" -> (if (firstOpMs > 0) (firstOpMs - jvmStart) / 1000.0 else Double.NaN)),
      "correct" -> correct, "attempted" -> run.attempted, "failed" -> run.failed,
      "failures" -> run.failures, "setup_errors" -> run.setupErrors,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "named" -> named.map { case (k, (v, u, n)) => k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "units_ms" -> run.units.map(u => Map("ms" -> u._1, "traced" -> u._2)),
      "op_ms" -> run.samples.groupBy(s => s"${s.kind} ${s.what}").map { case (k, v) => k -> v.map(_.ms) },
      "per_layer" -> layers,
      "attribution_ms" -> (if (a.trace) Layers.attribution(tracer).toMap else Map.empty),
      "unmapped_jobs" -> (if (a.trace) tracer.jobs.values.count(_.span < 0) else 0),
      "unmapped_queries" -> (if (a.trace)
        tracer.qes.count(q => tracer.execOf(q).flatMap(tracer.execSpan.get).forall(_ < 0)) else 0))
    Files.createDirectories(Paths.get(a.artifact).getParent)
    Files.write(Paths.get(a.artifact), Json(artifact).getBytes(UTF_8))
    if (a.trace) Files.write(Paths.get(a.artifact.stripSuffix(".json") + ".spans.jsonl"),
      tracer.spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> tracer.epochMs(s.startNs), "ms" -> s.ms,
        "attrs" -> s.attrs, "jobs" -> tracer.jobsIn(s).map(_.id)))).mkString("", "\n", "\n")
        .getBytes(UTF_8))

    val metrics =
      if (a.trace) layers.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }
      else endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    println("PERFBENCH_RESULT " + Json(Map("correct" -> correct, "attempted" -> math.max(1, run.attempted),
      "failed" -> (if (run.attempted == 0) 1 else run.failed), "metrics" -> metrics)))
    spark.stop()
  }

  private def med(xs: Iterable[Double], unit: String) =
    (Stats.median(xs.toSeq), unit, xs.size)
  /** p90, reported only with at least 12 samples above it. */
  private def tail(xs: Iterable[Double]) =
    if (xs.size * 0.1 >= 12) Some((Stats.pct(xs.toSeq, 0.9), "ms", xs.size)) else None

  /** Unit of each per-layer metric. */
  def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.endsWith(".ms")) "ms"
    else if (k.endsWith("_bytes") || k == "lake.bytes_written") "bytes"
    else if (k.endsWith("_share") || k.contains("_per_")) "ratio"
    else "count"
}
