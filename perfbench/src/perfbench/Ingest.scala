package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.jobs.{EventsDailyView, SketchRollupJob}
import graft.json.SyncPing
import graft.ops.BatchView

/** What one day's pings must shred to, counted while they are generated. */
final case class DayModel(failed: Long, ignored: Long, processed: Long,
                          flatRows: Long, eventRows: Long)

/** Seeded sync-ping generator covering the shapes SyncPingPropertySpec
  * covers: old- and new-style pings, ids on the payload or at the ping's
  * top level, bare-object and array `outgoing`, positional events of every
  * arity, a share of truncated (malformed) documents, and a skewed `uid`.
  * JSON is rendered with Jackson so escaping cannot drift from the model. */
object PingGen {
  private val M = new ObjectMapper()
  private val engineNames = Array("bookmarks", "history", "passwords", "tabs", "clients", "forms")
  private val users = 400

  /** Skewed uid: the cube of a uniform draw puts most pings on few users. */
  private def uid(r: Random): String = f"u${(users * math.pow(r.nextDouble(), 3)).toInt}%04d"
  private def maybe[T](r: Random, p: Double)(v: => T): Option[T] = if (r.nextDouble() < p) Some(v) else None

  private def engines(r: Random, into: ObjectNode): Int = {
    val n = r.nextInt(4)
    if (n > 0) {
      val arr = into.putArray("engines")
      (0 until n).foreach { i =>
        val e = arr.addObject().put("name", engineNames((i + r.nextInt(6)) % 6)).put("took", r.nextInt(900).toLong)
        e.putObject("incoming").put("applied", r.nextInt(50).toLong).put("failed", r.nextInt(3).toLong)
        def batch(o: ObjectNode): Unit = {
          o.put("sent", r.nextInt(60).toLong)
          if (r.nextBoolean()) o.put("failed", r.nextInt(5).toLong)
        }
        r.nextInt(3) match {
          case 0 => // no outgoing
          case 1 => batch(e.putObject("outgoing")) // bare object: one batch
          case _ =>
            val out = e.putArray("outgoing")
            (0 to r.nextInt(3)).foreach(_ => batch(out.addObject()))
        }
      }
    }
    math.max(n, 1) // explode_outer keeps one row for a sync without engines
  }

  /** Events of arity 1..7, numeric or not in the timestamp slot; returns
    * how many of them are decodable events. */
  private def events(r: Random, into: ObjectNode): Int = {
    val n = r.nextInt(5)
    var good = 0
    if (n > 0) {
      val arr = into.putArray("events")
      (0 until n).foreach { _ =>
        val arity = 1 + r.nextInt(7)
        val numeric = r.nextDouble() < 0.85
        val e = arr.addArray()
        if (numeric) e.add(r.nextInt(1000000).toLong) else e.add("not-a-ts")
        (1 until arity).foreach(i => e.add(s"v$i-${r.nextInt(20)}"))
        if (numeric && arity >= 4 && arity <= 6) good += 1
      }
    }
    good
  }

  def day(seed: Long, day: String, n: Int): (Seq[String], DayModel) = {
    val r = new Random(seed * 31L + day.hashCode)
    var failed, ignored, processed, flat, evs = 0L
    val docs = (0 until n).map { _ =>
      val root = M.createObjectNode()
      val topUid = maybe(r, 0.3)(uid(r))
      topUid.foreach(root.put("uid", _))
      root.putObject("application").put("name", "Firefox").put("channel", "release")
      val payload = root.putObject("payload")
      payload.putObject("os").put("name", "Linux").put("version", s"6.${r.nextInt(9)}")
      val payloadUid = maybe(r, 0.6)(uid(r))
      // the flat-row count of each sync that survives shredding
      val surviving: Seq[Int] =
        if (r.nextBoolean()) { // old style: the payload is the one sync
          val when = maybe(r, 0.9)(r.nextInt(86400000).toLong)
          when.foreach(payload.put("when", _))
          payloadUid.foreach(payload.put("uid", _))
          val rows = engines(r, payload)
          if (when.isDefined && payloadUid.orElse(topUid).isDefined) Seq(rows) else Nil
        } else {
          // at least one sync: SyncPing.eventRows fails on an empty
          // `syncs` array (see perfbench/README.md, known defects)
          val syncs = payload.putArray("syncs")
          val out = (0 to r.nextInt(3)).flatMap { _ =>
            val s = syncs.addObject()
            val when = maybe(r, 0.9)(r.nextInt(86400000).toLong)
            val su = maybe(r, 0.7)(uid(r))
            when.foreach(s.put("when", _))
            su.foreach(s.put("uid", _))
            val rows = engines(r, s)
            if (when.isDefined && su.orElse(topUid).isDefined) Some(rows) else None
          }
          payloadUid.foreach(payload.put("uid", _))
          out
        }
      val goodEvents = events(r, payload)
      val json = M.writeValueAsString(root)
      if (r.nextDouble() < 0.08) { failed += 1; json.dropRight(1) }
      else {
        if (surviving.isEmpty) ignored += 1 else processed += 1
        flat += surviving.sum
        if (payloadUid.orElse(topUid).isDefined) evs += goodEvents
        json
      }
    }
    (docs, DayModel(failed, ignored, processed, flat, evs))
  }
}

/** The reference's own use and the only workload that writes. An
  * operation is one job run: per day, the events daily view, the sketch
  * rollup, and sync pings shredded into the flat and the event view (the
  * seed orders them); then four reads of the views, in seeded order. */
object Ingest extends Workload {
  val name = "ingest_views"
  val minPasses = 4
  val scale = "sf0.1"
  private val days = Seq("20240102", "20240103", "20240104")
  private val pingsPerDay = 1500
  private val reads = Seq("sync_flat", "sync_events", "events_daily", "active_users")
  def opsPerPass: Int = days.size * 4 + reads.size

  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  private def next(d: String) = LocalDate.parse(d, fmt).plusDays(1).format(fmt)

  private var models = Map.empty[String, DayModel]
  private var eventsPerDay = Map.empty[String, Long]
  private var usersInRange = 0L

  def pingsFile(inputDir: String, day: String) = s"$inputDir/pings/$day.json"
  def viewsDir(workDir: String) = s"$workDir/views"

  override def prepare(spark: SparkSession, dataDir: String, inputDir: String, seed: Long): Unit = {
    Workloads.checkTables(spark, dataDir, scale)
    Files.createDirectories(Paths.get(s"$inputDir/pings"))
    models = days.map { d =>
      val (docs, model) = PingGen.day(seed, d, pingsPerDay)
      Files.write(Paths.get(pingsFile(inputDir, d)),
        docs.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      d -> model
    }.toMap
    // the committed events table does not change between set-ups, so its
    // expectations are computed once per JVM
    if (eventsPerDay.isEmpty) {
      val e = Tables.events(spark, dataDir)
      eventsPerDay = days.map(d => d -> e.where(EventsDailyView.dayRange(e, d, next(d))).count()).toMap
      usersInRange = e.where(EventsDailyView.dayRange(e, days.min, next(days.max)))
        .select("user_id").distinct().count()
    }
  }

  def pass(seed: Long, pass: Int): Seq[Op] = {
    val writes = days.flatMap(d => Seq(
      Op(s"events_daily_$d", ctx => { eventsDaily(ctx, d); Map.empty }),
      Op(s"sketch_rollup_$d", ctx => { sketchRollup(ctx, d); Map.empty }),
      Op(s"sync_flat_$d", ctx => syncFlat(ctx, d)),
      Op(s"sync_events_$d", ctx => syncEvents(ctx, d))))
    Workloads.shuffle(writes, seed, pass) ++
      Workloads.shuffle(reads, seed, pass).map(r => Op(s"read_$r", ctx => { readBack(ctx, r); Map.empty }))
  }

  private def check(what: String, got: Long, want: Long): Unit =
    if (got != want) throw new Mismatch(s"$what: $got, expected $want")
  private def n(o: Observation, k: String) = o.get(k).asInstanceOf[Number].longValue

  private def eventsDaily(ctx: Ctx, d: String): Unit =
    ctx.call("write", "jobs", "EventsDailyView.run") {
      EventsDailyView.run(ctx.spark, EventsDailyView.Args(d, Some(d), ctx.dataDir, viewsDir(ctx.workDir)))
    }

  private def sketchRollup(ctx: Ctx, d: String): Unit =
    ctx.call("write", "jobs", "SketchRollupJob.runDay") {
      val e = Tables.events(ctx.spark, ctx.dataDir)
      SketchRollupJob.runDay(ctx.spark, e.where(EventsDailyView.dayRange(e, d, next(d))), d,
        viewsDir(ctx.workDir), "user_id", "value")
    }

  private def parsed(ctx: Ctx, d: String) = ctx.call("build", "json", "SyncPing.parse") {
    SyncPing.parse(ctx.spark.read.text(pingsFile(ctx.inputDir, d)), "value")
  }

  private def syncFlat(ctx: Ctx, d: String): Map[String, Double] = {
    val shred = Observation(s"shred_${ctx.opId}")
    val out = Observation(s"rows_${ctx.opId}")
    val p = parsed(ctx, d)
    val flat = ctx.call("build", "json", "SyncPing.flatRows") {
      SyncPing.flatRows(SyncPing.observeShredding(p, shred))
    }
    // flatRows drops its `keep` columns, so the day is added after the call
    ctx.call("write", "batchview", "BatchView.write sync_flat") {
      BatchView.write(flat.withColumn("day", lit(d)).observe(out, count(lit(1)).as("rows")),
        viewsDir(ctx.workDir), "sync_flat", 1, Seq("day"))
    }
    val m = models(d)
    check(s"$d failed", n(shred, "failed"), m.failed)
    check(s"$d ignored", n(shred, "ignored"), m.ignored)
    check(s"$d processed", n(shred, "processed"), m.processed)
    check(s"$d flat rows", n(out, "rows"), m.flatRows)
    Map("json.processed" -> m.processed, "json.ignored" -> m.ignored, "json.failed" -> m.failed,
      "json.rows_out" -> m.flatRows, "batchview.output_rows" -> m.flatRows).map { case (k, v) => k -> v.toDouble }
  }

  private def syncEvents(ctx: Ctx, d: String): Map[String, Double] = {
    val out = Observation(s"rows_${ctx.opId}")
    val p = parsed(ctx, d)
    val events = ctx.call("build", "json", "SyncPing.eventRows")(SyncPing.eventRows(p))
    ctx.call("write", "batchview", "BatchView.write sync_events") {
      BatchView.write(events.withColumn("day", lit(d)).observe(out, count(lit(1)).as("rows")),
        viewsDir(ctx.workDir), "sync_events", 1, Seq("day"))
    }
    check(s"$d event rows", n(out, "rows"), models(d).eventRows)
    Map("json.rows_out" -> models(d).eventRows.toDouble, "batchview.output_rows" -> models(d).eventRows.toDouble)
  }

  private def readBack(ctx: Ctx, what: String): Unit = {
    val spark = ctx.spark
    val views = viewsDir(ctx.workDir)
    def perDay(view: String, dayCol: String, value: org.apache.spark.sql.Column): Map[String, Long] =
      ctx.call("read", "batchview", s"BatchView.read $view") {
        BatchView.read(spark, views, view, 1)
          .where(col(dayCol).cast("string").isin(days: _*))
          .groupBy(col(dayCol).cast("string")).agg(value.cast("long"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    what match {
      case "sync_flat" =>
        val got = perDay("sync_flat", "day", count(lit(1)))
        days.foreach(d => check(s"$d sync_flat rows read", got.getOrElse(d, 0L), models(d).flatRows))
      case "sync_events" =>
        val got = perDay("sync_events", "day", count(lit(1)))
        days.foreach(d => check(s"$d sync_events rows read", got.getOrElse(d, 0L), models(d).eventRows))
      case "events_daily" =>
        val got = perDay(EventsDailyView.jobName, EventsDailyView.dayColumn, sum(col("n_events")))
        days.foreach(d => check(s"$d events_daily n_events", got.getOrElse(d, 0L), eventsPerDay(d)))
      case "active_users" =>
        val active = ctx.call("read", "jobs", "SketchRollupJob.activeUsers") {
          SketchRollupJob.activeUsers(spark, views, days.min, days.max).head()
        }
        check("activeUsers n_events", active.getAs[Number]("n_events").longValue, eventsPerDay.values.sum)
        val est = active.getAs[Number]("active_users").doubleValue
        if (math.abs(est - usersInRange) > 0.05 * usersInRange + 1)
          throw new Mismatch(s"activeUsers estimate $est, exact $usersInRange")
    }
  }

  override def afterPass(spark: SparkSession, workDir: String): Map[String, Double] = {
    val walk = Files.walk(Paths.get(viewsDir(workDir)))
    val files = try walk.iterator().asScala.filter(p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    finally walk.close()
    Map("batchview.output_files" -> files.size.toDouble,
      "batchview.output_bytes" -> files.map(Files.size).sum.toDouble)
  }
}
