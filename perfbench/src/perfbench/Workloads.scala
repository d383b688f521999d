package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Thrown when an operation's output disagrees with its expected value. */
final class Mismatch(msg: String) extends Exception(msg)

/** What one operation sees: the session, the committed tables of the
  * workload's scale (`dataDir`),
  * the inputs generated at set-up (`inputDir`), a scratch dir for outputs,
  * and the tracer when this pass is traced. */
final class Ctx(val spark: SparkSession, val dataDir: String, val inputDir: String,
                val workDir: String, val tracer: Option[Tracer], val opId: String) {
  /** A call into the repo's public functions: timed as a span when traced. */
  def call[T](kind: String, layer: String, name: String)(body: => T): T =
    tracer match {
      case Some(t) => t.call(opId, kind, layer, name)(body)
      case None => body
    }
}

/** One operation: runs its calls and checks their output, returning
  * per-op counters (for example rows shredded) or throwing [[Mismatch]]. */
final case class Op(name: String, run: Ctx => Map[String, Double])

trait Workload {
  def name: String
  /** Fewest full passes one measured window holds; with [[opsPerPass]] it
    * fixes the sample count and so the tail percentile. */
  def minPasses: Int
  def opsPerPass: Int
  /** The committed copy of the test tables it reads: a directory under
    * `perfbench/data`. */
  def scale: String
  /** Input generation: what the passes read besides the committed tables,
    * written under `inputDir`. */
  def prepare(spark: SparkSession, dataDir: String, inputDir: String, seed: Long): Unit = ()
  /** The operations of pass `pass`, in the order the seed gives them. */
  def pass(seed: Long, pass: Int): Seq[Op]
  /** Counters of the pass as a whole, read after its last operation. */
  def afterPass(spark: SparkSession, workDir: String): Map[String, Double] = Map.empty
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // Bound by fixed per-query overhead (planning, job launch, schema
    // reads); touches no materialization or shingle code, so it is the
    // control on which changes there must not move.
    new QueryWorkload("relational_short", minPasses = 3, Seq(
      "q01_pricing_summary", "q02_filter_project", "q03_join_revenue",
      "q04_latest_per_key", "q07_union_groups", "q12_pivot_counts",
      "q19_count_distinct", "q50_asof_join", "q52_sessionize",
      "q53_rolling_window", "q54_rollup", "q212_daily_churn")),
    // Shuffle-heavy shingle, containment and substring-dedup kernels.
    new QueryWorkload("text_dedup", minPasses = 4, Seq(
      "q67_neardup_join", "q72_containment_join", "q75_containment_prebuilt",
      "q97_substring_dedup", "q237_winnowing")),
    // Iterative ops/Graphs queries: job count and checkpoint release,
    // no text kernels.
    new QueryWorkload("graph_iter", minPasses = 6, Seq(
      "q152_pagerank", "q164_kcore", "q181_shortest_paths", "q198_harmonic")),
    Ingest)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** The committed tables of each scale (copies of the test data) and
    * their row counts, checked at set-up. */
  val tableRows: Map[String, Map[String, Long]] = Map(
    "sf0.01" -> Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L,
      "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L, "events" -> 10000L,
      "documents" -> 500L, "embeddings" -> 500L),
    "sf0.1" -> Map("events" -> 100000L))

  def checkTables(spark: SparkSession, dataDir: String, scale: String): Unit =
    tableRows(scale).foreach { case (t, want) =>
      val got = footerRows(spark, s"$dataDir/$t.parquet")
      if (got != want) throw new IllegalStateException(s"input table $t has $got rows, expected $want")
    }

  def footerRows(spark: SparkSession, file: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val path = new org.apache.hadoop.fs.Path(file)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration))
    try reader.getRecordCount finally reader.close()
  }

  /** A seeded permutation: the same seed and pass give the same order. */
  def shuffle[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

}

/** Row count plus an order-independent content fingerprint: the sums of the
  * low and high 32 bits of each row's xxhash64, collected by an
  * Observation on the same action that executes the query. */
object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Columns are renamed by position so duplicate or dotted names cannot
    * break resolution; map-typed values hash through their JSON text. */
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = xxhash64(cols: _*)
    named.observe(obs,
      count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def read(obs: Observation): (Long, String) = {
    val m = obs.get
    def l(k: String) = m(k).asInstanceOf[Number].longValue
    (l("rows"), f"${l("lo")}%x.${l("hi")}%x")
  }
}

/** The expected row count and fingerprint of each query, kept in
  * `expected.tsv`; `-` as fingerprint means row count only. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else scala.io.Source.fromFile(f).getLines()
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val Array(n, rows, fp) = l.split("\t")
        n -> (rows.toLong, fp)
      }.toMap
  }
}

/** A query workload: each op builds one `SparkEntry.queries` function and
  * executes it through the noop sink, checking rows and fingerprint. */
final class QueryWorkload(val name: String, val minPasses: Int, queries: Seq[String]) extends Workload {
  def opsPerPass: Int = queries.size
  val scale = "sf0.01"

  /** Observed (rows, fingerprint) per query, kept for `--record`. */
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(Long, String)]]
  var expected: Map[String, (Long, String)] = Map.empty
  var recording = false

  /** Opens every input table and checks its row count from the footers. */
  override def prepare(spark: SparkSession, dataDir: String, inputDir: String, seed: Long): Unit =
    Workloads.checkTables(spark, dataDir, scale)

  def pass(seed: Long, pass: Int): Seq[Op] =
    Workloads.shuffle(queries, seed, pass).map(q => Op(q, ctx => run(q, ctx)))

  private def run(q: String, ctx: Ctx): Map[String, Double] = {
    val fn = graft.SparkEntry.queries(q)
    val df = ctx.call("build", "queries", q)(fn(ctx.spark, ctx.dataDir))
    val obs = Observation(s"fp_${ctx.opId}")
    ctx.call("execute", "queries", q) {
      Fingerprint.observe(df, obs).write.mode("overwrite").format("noop").save()
    }
    val (rows, fp) = Fingerprint.read(obs)
    if (recording) observed(q) = observed.getOrElse(q, Nil) :+ (rows -> fp)
    else expected.get(q) match {
      case None => throw new Mismatch(s"$q: no expected value recorded")
      case Some((r, _)) if r != rows => throw new Mismatch(s"$q: $rows rows, expected $r")
      case Some((_, e)) if e != "-" && e != fp => throw new Mismatch(s"$q: fingerprint $fp, expected $e")
      case _ =>
    }
    Map.empty
  }
}
