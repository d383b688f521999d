package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark runner, one client: each operation is issued only
  * after the previous one completes. One JVM runs one workload:
  *
  *  1. set-up: start a SparkSession and generate the inputs;
  *  2. one warm-up pass, the JVM's first execution of every operation
  *     (code generation, JIT, first-use caches), printed as `warmup_s`.
  *     `setup_s` is the time from JVM start to the end of the warm-up;
  *  3. measured passes until `--seconds` have passed and the workload's
  *     minimum pass count is reached. Untraced runs give the end-to-end
  *     metrics; traced runs interleave untraced and traced passes and give
  *     the per-layer metrics and the tracing overhead.
  *
  * Prints `perfbench: ...` lines and, last, `RESULT {json}`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        dataDir: String, workDir: String, expected: String,
                        record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("work"), need("expected"), kv.get("record"))
  }

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    // graft.Bench's session config, with every scratch path inside workDir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50)
  /** Linear interpolation between closest ranks. */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it at
    * the sample count every measured window holds. */
  def tailPercentile(w: Workload): Int = {
    val n = w.opsPerPass * w.minPasses
    math.floor(100.0 * (1.0 - 10.0 / n)).toInt
  }

  final case class PassResult(wallMs: Double, opMs: Seq[Double], failed: Int,
                              counters: Map[String, Double], heapMb: Double)

  private def line(s: String): Unit = println(s"perfbench: $s")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    w match {
      case q: QueryWorkload =>
        if (a.record.isDefined) q.recording = true else q.expected = Expected.load(a.expected)
      case _ =>
    }
    val inputDir = s"${a.workDir}/inputs"
    val dataDir = s"${a.dataDir}/${w.scale}"

    // 1. set-up
    def sinceJvmStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val spark = session(a.workDir)
    w.prepare(spark, dataDir, inputDir, a.seed)
    line(f"session and inputs ready $sinceJvmStart%.3f s after JVM start")

    def runPass(p: Int, tracer: Option[Tracer]): PassResult = {
      val ops = w.pass(a.seed, p)
      val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var failed = 0
      val t0 = System.nanoTime()
      val opMs = ops.zipWithIndex.map { case (op, i) =>
        val opId = s"p$p.o$i"
        val s0 = System.nanoTime()
        val spanStart = tracer.map(_.now()).getOrElse(0.0)
        val ok = try {
          op.run(new Ctx(spark, dataDir, inputDir, a.workDir, tracer, opId))
            .foreach { case (k, v) => counters(k) += v }
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"perfbench: FAILED ${op.name} (pass $p): $e")
            false
        }
        val ms = (System.nanoTime() - s0) / 1e6
        tracer.foreach(_.op(opId, p, op.name, spanStart, ok))
        if (!ok) failed += 1
        ms
      }
      val wallMs = (System.nanoTime() - t0) / 1e6
      w.afterPass(spark, a.workDir).foreach { case (k, v) => counters(k) += v }
      // Spark's ContextCleaner frees the storage of RDDs and broadcasts
      // that the first GC found unreachable, on its own thread; the second
      // GC, once it has run, leaves only the heap the pass keeps alive
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      PassResult(wallMs, opMs, failed, counters.toMap, heapMb)
    }

    a.record match {
      case Some(out) =>
        record(w.asInstanceOf[QueryWorkload], out, runPass(_, None))
        line(f"record: session and two passes done $sinceJvmStart%.3f s after JVM start")
        spark.stop()
        return
      case None =>
    }

    // 2. warm-up
    val warmup = runPass(0, None)
    val setupS = sinceJvmStart
    line(f"warmup_s ${warmup.wallMs / 1000}%.3f (cold pass), ${warmup.failed} failed")

    // 3. measured passes
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val traced = mutable.ArrayBuffer.empty[PassResult]
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    var p = 1
    def enough =
      if (a.trace) untraced.size >= 2 && traced.size >= 2 else untraced.size >= w.minPasses
    while (elapsed < a.seconds || !enough) {
      // untraced and traced passes in ABBA order (U T T U ...), so a
      // drift across the window does not bias the tracing overhead
      tracer match {
        case Some(t) if Set(1, 2)((p - 1) % 4) =>
          t.start()
          try traced += runPass(p, tracer) finally t.stop()
        case _ => untraced += runPass(p, None)
      }
      p += 1
    }
    val measured = untraced ++ traced
    line(f"measured pass walls ${measured.map(r => f"${r.wallMs / 1000}%.3f").mkString(" ")} s, " +
      f"live heap ${measured.map(r => f"${r.heapMb}%.1f").mkString(" ")} MB")
    val attempted = (warmup +: measured).map(_.opMs.size).sum
    val failed = (warmup +: measured).map(_.failed).sum
    line(f"measured ${measured.size} passes in $elapsed%.1f s; " +
      f"failed_frac ${failed.toDouble / attempted}%.4f of $attempted ops (warm-up included)")

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => endToEnd(w, setupS, untraced.toSeq)
      case Some(t) =>
        val m = Layers.metrics(t, traced.toSeq, untraced.toSeq)
        Layers.write(t, m, s"${a.workDir}/trace", s"${w.name}-seed${a.seed}")
        line(s"trace: ${a.workDir}/trace/${w.name}-seed${a.seed}.{spans.jsonl,ops.tsv,layers.tsv}")
        m
    }
    metrics.foreach { case (n, v, u) => line(f"$n%-30s $v%.4f $u") }
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""RESULT {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    spark.stop()
  }

  private def endToEnd(w: Workload, setupS: Double,
                       passes: Seq[PassResult]): Seq[(String, Double, String)] = {
    val ops = passes.flatMap(_.opMs)
    val tail = tailPercentile(w)
    line(s"op_tail_ms is p$tail over ${ops.size} samples (${ops.count(_ > percentile(ops, tail))} beyond)")
    line(f"output_bytes ${median(passes.map(_.counters.getOrElse("batchview.output_bytes", 0.0)))}%.0f per pass")
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", median(passes.map(_.wallMs)) / 1000, "s"),
      ("op_p50_ms", median(ops), "ms"),
      ("op_tail_ms", percentile(ops, tail), "ms"),
      ("op_geomean_ms", math.exp(ops.map(math.log).sum / ops.size), "ms"),
      ("heap_live_mb", median(passes.map(_.heapMb)), "MB"))
  }

  /** `--record`: two passes in canonical seed order; a query whose
    * fingerprint differs between them is recorded as row count only. */
  private def record(q: QueryWorkload, out: String, runPass: Int => PassResult): Unit = {
    val walls = Seq(runPass(0), runPass(1)).map(_.wallMs / 1000)
    line(f"record: pass walls ${walls.map(x => f"$x%.3f").mkString(" ")} s (cold, warm)")
    val pw = new PrintWriter(new File(out))
    try q.observed.foreach { case (name, seen) =>
      require(seen.map(_._1).distinct.size == 1, s"$name: row count differs between passes: $seen")
      val fp = if (seen.map(_._2).distinct.size == 1) seen.head._2 else "-"
      pw.println(s"$name\t${seen.head._1}\t$fp")
    } finally pw.close()
  }
}
