package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, from the spans and the Spark events
  * tied to them. Times and counts are means per operation of the span
  * they belong to (per table open, per append, per query, ...); shares are
  * ratios of totals. A layer a workload does not exercise reads 0. */
object Layers {
  /** Spans whose jobs are the final action of an operation. */
  val FinalSpans = Set("exec", "lake.append", "lake.readback")

  def compute(tr: Tracer, overheadShare: Double,
      extra: Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def named(n: String) = tr.spans.filter(_.name == n).toSeq
    def mean(xs: Seq[Double], n: Int) = if (n == 0) 0.0 else xs.sum / n
    def spanMs(n: String) = { val s = named(n); mean(s.map(_.ms), s.size) }
    def jobsOf(ss: Seq[Span]) = ss.flatMap(tr.jobsIn)
    def qesOf(ss: Seq[Span]) = ss.flatMap(tr.qesIn)
    def stagesOf(ss: Seq[Span]) = jobsOf(ss).flatMap(tr.stagesOf)
    def attr(ss: Seq[Span], k: String) = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val ops = tr.ops
    val opWall = ops.map(_.ms).sum
    val finals = tr.spans.filter(s => FinalSpans(s.name)).toSeq
    val finalOps = finals.map(_.op).distinct.size

    val opens = named("lake.open")
    out("lake.open_ms") = spanMs("lake.open")
    out("lake.open_jobs") = mean(Seq(jobsOf(opens).size.toDouble), opens.size)
    out("lake.files_listed") = mean(Seq(attr(opens, "files_listed")), opens.size)
    out("lake.files_read_per_listed") =
      if (opens.isEmpty) 0.0
      else ratio(qesOf(named("exec")).map(_.scanFiles.toDouble).sum,
        attr(opens, "files_listed"))

    val appends = named("lake.append")
    out("lake.append_ms") = spanMs("lake.append")
    out("lake.commit_ms") = mean(appends.flatMap(s =>
      tr.writeEndMs(s).map(end => tr.epochMs(s.endNs) - end)), appends.size)
    out("lake.readback_ms") = spanMs("lake.readback")
    out("lake.table_files") = extra.getOrElse("table_files", 0.0)
    out("lake.bytes_written") =
      mean(Seq(qesOf(appends).map(_.writeBytes.toDouble).sum), appends.size)

    val decides = named("ingest.decide")
    out("ingest.read_ms") = spanMs("ingest.read")
    out("ingest.decide_ms") = spanMs("ingest.decide")
    out("ingest.decide_jobs") = mean(Seq(jobsOf(decides).size.toDouble), decides.size)
    // the write stage is the result stage; the regroup runs before it in
    // the shuffle-map stage of the one exchange
    val (mapStages, writeStages) = stagesOf(appends).partition(_.shuffleMap)
    out("ingest.regroup_task_ms") = mean(Seq(mapStages.map(_.runMs.toDouble).sum), appends.size)
    out("ingest.write_task_ms") = mean(Seq(writeStages.map(_.runMs.toDouble).sum), appends.size)
    out("ingest.files_written") =
      mean(Seq(qesOf(appends).map(_.writeFiles.toDouble).sum), appends.size)

    val qbuild = named("queries.build")
    out("queries.build_ms") = spanMs("queries.build")
    out("queries.build_jobs") = mean(Seq(jobsOf(qbuild).size.toDouble), qbuild.size)

    val planMs = qesOf(finals).map(_.planMs).sum
    out("catalyst.plan_ms") = mean(Seq(planMs), finalOps)
    val st = stagesOf(finals)
    out("exec.ms") = mean(Seq(finals.map(_.ms).sum - planMs), finalOps)
    out("exec.jobs") = mean(Seq(jobsOf(finals).size.toDouble), finalOps)
    out("exec.stages") = mean(Seq(st.size.toDouble), finalOps)
    out("exec.tasks") = mean(Seq(st.map(_.tasks.toDouble).sum), finalOps)
    out("exec.task_ms") = mean(Seq(st.map(_.runMs.toDouble).sum), finalOps)
    out("exec.task_cpu_ms") = mean(Seq(st.map(_.cpuMs).sum), finalOps)
    out("exec.sched_delay_ms") = mean(Seq(st.map(_.schedMs.toDouble).sum), finalOps)
    out("exec.shuffle_write_bytes") = mean(Seq(st.map(_.shuffleWrite.toDouble).sum), finalOps)
    out("exec.shuffle_read_bytes") = mean(Seq(st.map(_.shuffleRead.toDouble).sum), finalOps)
    out("exec.spill_bytes") = mean(Seq(st.map(_.spill.toDouble).sum), finalOps)
    out("exec.scan_rows_per_result_row") =
      ratio(qesOf(finals).map(_.scanRows.toDouble).sum, attr(finals, "result_rows"))

    out("codegen.compile_ms") = mean(Seq(attr(ops, "codegen.compile_ms")), ops.size)
    out("codegen.classes") = mean(Seq(attr(ops, "codegen.classes")), ops.size)
    out("jvm.gc_ms") = mean(Seq(attr(ops, "jvm.gc_ms")), ops.size)
    out("trace.overhead_share") = overheadShare
    out("trace.unattributed_share") =
      ratio(opWall - ops.map(o => tr.children(o).map(_.ms).sum).sum, opWall)
    out
  }

  /** Where the operations' wall time went, layer by layer: each child
    * span's wall, with the final action's Catalyst planning carved out of
    * it, and the remainder no span covers. */
  def attribution(tr: Tracer): Seq[(String, Double)] = {
    val acc = mutable.LinkedHashMap.empty[String, Double]
    val ops = tr.ops
    ops.foreach { o =>
      tr.children(o).foreach { c =>
        val plan = if (FinalSpans(c.name)) tr.qesIn(c).map(_.planMs).sum else 0.0
        acc(c.name) = acc.getOrElse(c.name, 0.0) + c.ms - plan
        if (plan > 0) acc("catalyst.plan") = acc.getOrElse("catalyst.plan", 0.0) + plan
      }
    }
    val wall = ops.map(_.ms).sum
    acc("unattributed") = wall - acc.values.sum
    acc.toSeq
  }
}
