package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run and the files a later change can diff:
  * `spans.jsonl` (every op, call and job span), `ops.tsv` (per-op counts)
  * and `layers.tsv` (self time by layer per pass, and tracing overhead). */
object Layers {
  private def sumCalls(ops: Seq[OpSpan], f: CallSpan => Boolean, v: CallSpan => Double): Double =
    ops.flatMap(_.calls).filter(f).map(v).sum
  private def jobs(ops: Seq[OpSpan]): Seq[JobRec] = ops.flatMap(_.calls.flatMap(_.jobs))
  private def plans(ops: Seq[OpSpan]): Seq[PlanRec] = ops.flatMap(_.calls.flatMap(_.plans))
  private def all(c: CallSpan) = true

  /** Self time of each layer in one pass: op glue (the benchmark's own code
    * and output checks), each call kind outside Spark jobs, and jobs. */
  def selfTimes(ops: Seq[OpSpan]): Seq[(String, Double)] = {
    val callKeys = ops.flatMap(_.calls.map(c => s"${c.kind} ${c.layer}")).distinct.sorted
    Seq("op (benchmark glue, output check)" -> ops.map(o => o.wallMs - o.calls.map(_.wallMs).sum).sum) ++
      callKeys.map(k => s"call $k (driver, outside jobs)" ->
        sumCalls(ops, c => s"${c.kind} ${c.layer}" == k, c => c.wallMs - c.jobMs)) :+
      ("spark jobs" -> sumCalls(ops, all, _.jobMs))
  }

  private def perPass(ops: Seq[OpSpan], counters: Map[String, Double]): Map[String, Double] = {
    val js = jobs(ops)
    val build = (c: CallSpan) => c.kind == "build"
    def calls(kind: String, layer: String) =
      sumCalls(ops, c => c.kind == kind && c.layer == layer, _.wallMs)
    Map(
      "queries.build_ms" -> sumCalls(ops, build, _.wallMs),
      "queries.build_jobs" -> sumCalls(ops, build, _.jobs.size.toDouble),
      "queries.plan_ms" -> plans(ops).map(_.planMs).sum,
      "queries.exchanges" -> plans(ops).map(_.exchanges.toDouble).sum,
      "queries.jobs" -> js.size.toDouble,
      "queries.stages" -> js.map(_.stages.toDouble).sum,
      "queries.tasks" -> js.map(_.tasks.toDouble).sum,
      "queries.driver_gap_ms" -> ops.map(o => o.wallMs - o.calls.map(_.jobMs).sum).sum,
      "queries.task_cpu_ms" -> js.map(_.cpuNs / 1e6).sum,
      "queries.shuffle_write_bytes" -> js.map(_.shuffleWrite.toDouble).sum,
      "queries.shuffle_read_bytes" -> js.map(_.shuffleRead.toDouble).sum,
      "queries.spill_bytes" -> js.map(_.spill.toDouble).sum,
      "queries.cached_bytes_after" -> ops.map(_.cachedBytesAfter.toDouble).max,
      "sources.scan_bytes" -> js.map(_.scanBytes.toDouble).sum,
      "sources.scan_rows" -> js.map(_.scanRows.toDouble).sum,
      "batchview.write_ms" -> calls("write", "batchview"),
      "batchview.read_ms" -> calls("read", "batchview"),
      "jobs.day_ms" -> calls("write", "jobs"),
      "trace.self_op_ms" -> ops.map(o => o.wallMs - o.calls.map(_.wallMs).sum).sum,
      "trace.self_call_ms" -> sumCalls(ops, all, c => c.wallMs - c.jobMs),
      "trace.self_job_ms" -> sumCalls(ops, all, _.jobMs)) ++
      Seq("batchview.output_files", "batchview.output_rows", "batchview.output_bytes",
        "json.processed", "json.ignored", "json.failed", "json.rows_out")
        .map(k => k -> counters.getOrElse(k, 0.0))
  }

  val units: Map[String, String] = Map(
    "queries.build_ms" -> "ms", "queries.build_jobs" -> "count", "queries.plan_ms" -> "ms",
    "queries.exchanges" -> "count", "queries.jobs" -> "count", "queries.stages" -> "count",
    "queries.tasks" -> "count", "queries.driver_gap_ms" -> "ms", "queries.task_cpu_ms" -> "ms",
    "queries.shuffle_write_bytes" -> "bytes", "queries.shuffle_read_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes", "queries.cached_bytes_after" -> "bytes",
    "sources.scan_bytes" -> "bytes", "sources.scan_rows" -> "count",
    "batchview.write_ms" -> "ms", "batchview.read_ms" -> "ms",
    "batchview.output_files" -> "count", "batchview.output_rows" -> "count",
    "batchview.output_bytes" -> "bytes", "jobs.day_ms" -> "ms",
    "json.processed" -> "count", "json.ignored" -> "count", "json.failed" -> "count",
    "json.rows_out" -> "count", "trace.self_op_ms" -> "ms", "trace.self_call_ms" -> "ms",
    "trace.self_job_ms" -> "ms", "trace.overhead_pct" -> "%", "trace.misattributed_jobs" -> "count")

  /** Medians over the traced passes; overhead is traced minus untraced
    * pass time in the same window, as a share of untraced. */
  def metrics(t: Tracer, traced: Seq[Main.PassResult], untraced: Seq[Main.PassResult]): Seq[(String, Double, String)] = {
    val passes = t.ops.map(_.pass).distinct.sorted
    val per = passes.zip(traced).map { case (p, r) => perPass(t.ops.filter(_.pass == p).toSeq, r.counters) }
    val u = Main.median(untraced.map(_.wallMs))
    val overhead = (Main.median(traced.map(_.wallMs)) - u) / u * 100
    units.keys.toSeq.sorted.map { k =>
      val v = k match {
        case "trace.overhead_pct" => overhead
        case "trace.misattributed_jobs" => t.misattributed.toDouble
        case _ => Main.median(per.map(_(k)))
      }
      (k, v, units(k))
    }
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(t: Tracer, m: Seq[(String, Double, String)], dir: String, stem: String): Unit = {
    new File(dir).mkdirs()
    def out(name: String)(f: PrintWriter => Unit): Unit = {
      val pw = new PrintWriter(new File(s"$dir/$stem.$name"))
      try f(pw) finally pw.close()
    }
    out("spans.jsonl") { pw =>
      t.ops.foreach { o =>
        pw.println(f"""{"level": "op", "id": ${q(o.id)}, "op": ${q(o.id)}, "pass": ${o.pass}, "name": ${q(o.name)}, "start_ms": ${o.startMs}%.3f, "end_ms": ${o.endMs}%.3f, "ok": ${o.ok}, "cached_bytes_after": ${o.cachedBytesAfter}}""")
        o.calls.foreach { c =>
          val pl = c.plans
          pw.println(f"""{"level": "call", "id": ${q(c.id)}, "parent": ${q(o.id)}, "op": ${q(o.id)}, "kind": ${q(c.kind)}, "layer": ${q(c.layer)}, "name": ${q(c.name)}, "start_ms": ${c.startMs}%.3f, "end_ms": ${c.endMs}%.3f, "plan_ms": ${pl.map(_.planMs).sum}%.1f, "exchanges": ${pl.map(_.exchanges).sum}}""")
          c.jobs.foreach { j =>
            pw.println(s"""{"level": "job", "id": ${q(s"${c.id}.j${j.id}")}, "parent": ${q(c.id)}, "op": ${q(o.id)}, "job": ${j.id}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, "tasks": ${j.tasks}, "cpu_ms": ${j.cpuNs / 1000000}, "shuffle_write_bytes": ${j.shuffleWrite}, "shuffle_read_bytes": ${j.shuffleRead}, "spill_bytes": ${j.spill}, "scan_bytes": ${j.scanBytes}, "scan_rows": ${j.scanRows}}""")
          }
        }
      }
    }
    out("ops.tsv") { pw =>
      pw.println("pass\top\twall_ms\tjobs\tstages\ttasks\texchanges")
      t.ops.foreach { o =>
        val js = jobs(Seq(o))
        pw.println(f"${o.pass}\t${o.name}\t${o.wallMs}%.1f\t${js.size}\t${js.map(_.stages).sum}\t" +
          s"${js.map(_.tasks).sum}\t${plans(Seq(o)).map(_.exchanges).sum}")
      }
    }
    out("layers.tsv") { pw =>
      val passes = t.ops.map(_.pass).distinct.sorted
      val per = passes.map(p => selfTimes(t.ops.filter(_.pass == p).toSeq).toMap)
      val opMs = Main.median(passes.map(p => t.ops.filter(_.pass == p).map(_.wallMs).sum))
      pw.println("layer\tself_ms_per_pass\tshare_of_op_time")
      per.head.keys.toSeq.sortBy(k => -per.head(k)).foreach { k =>
        val v = Main.median(per.map(_.getOrElse(k, 0.0)))
        pw.println(f"$k\t$v%.1f\t${v / opMs}%.3f")
      }
      pw.println(f"total op time\t$opMs%.1f\t1.000")
      m.find(_._1 == "trace.overhead_pct").foreach(o => pw.println(f"tracing overhead (%% of untraced pass_s)\t\t${o._2}%.2f"))
    }
  }
}
