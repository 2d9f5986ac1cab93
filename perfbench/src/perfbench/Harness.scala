package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory, ObjectNode}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.StageLog

import graft.Tables
import graft.bronze.Bronze
import graft.gold.Gold
import graft.operators.Merge
import graft.plans.{Pipeline, Warehouse}
import graft.silver.Silver

/** The benchmark's JVM side: one closed loop with one client thread.
  *
  * Set-up runs once, then one discarded warm-up cycle, then timed cycles
  * until `--seconds` have passed and the workload's rotation is complete.
  * The run is on `local[n]` with n the cores the JVM may use. Before
  * every cycle cached data is released and the heap collected, outside
  * the timed window. Each read and write is an operation: its latency,
  * row count, result digest and any exception are recorded, never
  * swallowed. With
  * `--trace 1` the first half of the timed phase runs untraced (the
  * overhead baseline) and the second half records spans and listener
  * events. Everything lands in one JSON file that `run.py` reads; its
  * `ready_ms` is the epoch time at which set-up ended.
  *
  * Usage: Harness --workload W --seconds S --trace 0|1 --inputs DIR
  *                --work DIR --out FILE
  */
object Harness {

  /** Per-operation and per-check records of one run. */
  final class Recorder {
    val ops: ArrayNode = JsonNodeFactory.instance.arrayNode()
    val checks: ArrayNode = JsonNodeFactory.instance.arrayNode()
    var cycle = -1
    var timed = false

    /** Record `e` as the failure of `rec`: digest "", error class and message. */
    private def failed(rec: ObjectNode, e: Throwable): Unit =
      rec.put("digest", "").putObject("error").put("class", e.getClass.getName)
        .put("message", String.valueOf(e.getMessage).take(2000))

    /** Run one operation; `body` returns (rows, digest). */
    def op(kind: String, arg: String = "")(body: => (Long, String)): Unit = {
      val t0 = System.nanoTime()
      val result = try Right(body) catch { case e: Throwable => Left(e) }
      val rec = ops.addObject().put("cycle", cycle).put("timed", timed)
        .put("kind", kind).put("arg", arg).put("ms", (System.nanoTime() - t0) / 1e6)
      result match {
        case Right((rows, digest)) => rec.put("rows", rows).put("digest", digest).putNull("error")
        case Left(e) => failed(rec.put("rows", 0L), e)
      }
    }

    /** Digest one output outside the timed window. */
    def check(name: String)(digest: => String): Unit = {
      val rec = checks.addObject().put("cycle", cycle).put("name", name)
      try rec.put("digest", digest).putNull("error")
      catch { case e: Throwable => failed(rec, e) }
    }
  }

  trait Workload {
    def setup(): Unit = ()
    def before(i: Int, traced: Boolean): Unit = ()
    def cycle(i: Int, traced: Boolean): Unit
    /** Outside the timed window after a timed cycle: output checks,
      * boundary counters, then [[cleanup]]. */
    def after(i: Int, traced: Boolean): Unit
    /** Drop what cycle `i` left behind (all that follows a warm-up cycle). */
    def cleanup(i: Int): Unit
    /** Timed phases end on a multiple of this many cycles. */
    def rotation: Int = 1
    def maxCycles: Int = Int.MaxValue
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p)
      .sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The generated per-cycle operation plan (`ops.json`). */
  private def readPlan(in: String) =
    new ObjectMapper().readTree(new java.io.File(s"$in/ops.json"))

  /** A dashboard read: one promoted mart through its rename view. */
  private def viewRead(spark: SparkSession, wh: String, kind: String): DataFrame = {
    def mart(m: String) = spark.read.parquet(s"$wh/$m")
    kind match {
      case "daily_view" => Gold.dailySummaryView(mart("dm_daily_trip_summary"))
      case "station_view" => Gold.stationPopularityView(mart("dm_station_popularity"))
      case "routes_view" => Gold.popularRoutesView(mart("dm_popular_routes"))
      case "user_view" => Gold.userBehaviorView(mart("dm_user_behavior"))
    }
  }

  /** `etl_full`: each cycle is the nightly batch into a fresh warehouse,
    * then the seeded dashboard reads over the marts it promoted. */
  final class EtlFull(spark: SparkSession, in: String, work: String,
                      tr: Trace, rec: Recorder) extends Workload {
    private val plan = readPlan(in)
    private val tables = Seq("dim_station", "dim_user", "dim_date", "fact_trips",
      "dm_daily_trip_summary", "dm_popular_routes", "dm_station_popularity",
      "dm_user_behavior")
    override def maxCycles: Int = plan.size
    private def wh(i: Int) = s"$work/etl-wh-$i"
    private def src(t: String) = Tables.load(spark, in, t)

    def cycle(i: Int, traced: Boolean): Unit = {
      rec.op("write") {
        tr.span("pipeline.full_etl") { Pipeline.runFullEtl(spark, in, wh(i)) }
        (0L, "")
      }
      if (traced) forceLayers(i)
      plan.get(i).get("reads").forEach { r =>
        val kind = r.get("kind").asText
        val pred = r.get("pred").asText
        rec.op(s"read:$kind", pred) {
          tr.span("gold.view_read") { Digest.of(viewRead(spark, wh(i), kind).where(pred)) }
        }
      }
    }

    /** Silver and gold builders are lazy: force each one, on the inputs
      * the batch gave it, inside its own span. */
    private def forceLayers(i: Int): Unit = {
      def force(name: String)(df: => DataFrame): Unit =
        rec.op(s"force:$name") { tr.span(name)(noop(df)); (0L, "") }
      val orders = Tables.spread(src("orders"))
      val lineitem = Tables.spread(src("lineitem"))
      force("silver.dim_station")(
        Silver.dimStation(src("nation"), src("region"), src("customer"), src("supplier")))
      force("silver.dim_user")(Silver.dimUser(src("customer"), orders))
      force("silver.dim_date")(Silver.dimDate(orders, lineitem))
      force("silver.fact_trips")(
        Silver.factTrips(lineitem, orders, src("customer"), src("supplier")))
      force("gold.station_popularity")(Gold.stationPopularity(
        lineitem, orders, src("customer"), src("supplier"), src("nation")))
      force("gold.user_behavior")(Gold.userBehavior(orders, src("customer")))
      def staged(t: String) = Tables.spread(spark.read.parquet(s"${wh(i)}/$t"))
      force("gold.daily_summary")(
        Gold.dailySummaryFromStar(staged("fact_trips"), staged("dim_date")))
      force("gold.popular_routes")(
        Gold.popularRoutesFromStar(staged("fact_trips"), staged("dim_station")))
    }

    def after(i: Int, traced: Boolean): Unit = {
      tables.foreach(t => rec.check(t)(Digest.of(spark.read.parquet(s"${wh(i)}/$t"))._2))
      cleanup(i)
    }

    def cleanup(i: Int): Unit = deleteTree(Paths.get(wh(i)))
  }

  /** `corpus_release`: each cycle is one corpus release into a fresh
    * warehouse, then the consumers' reads: the whole release, each split,
    * and the contamination flags. */
  final class CorpusRelease(spark: SparkSession, in: String, work: String,
                            tr: Trace, rec: Recorder) extends Workload {
    private def wh(i: Int) = s"$work/corpus-wh-$i"
    private val releaseCols =
      Seq("doc_id", "source", "n_chars", "n_tok", "pack_id", "split").map(col)
    // a pivot closes the span of the stage that produced it and opens the
    // next stage's span ("" keeps the current span open)
    private val nextStage = Map(
      "quality_gate_ids" -> "dedup.exact",
      "exact_dedup_ids" -> "dedup.near_dup",
      "near_dup_clusters" -> "",
      "near_dedup_survivor_ids" -> "corpus.contamination",
      "contamination_flags" -> "corpus.pack_split_commit")

    def cycle(i: Int, traced: Boolean): Unit = {
      rec.op("write") {
        tr.span("pipeline.corpus_etl") {
          if (traced) tracedRelease(i) else Pipeline.runCorpusEtl(spark, in, wh(i))
        }
        (0L, "")
      }
      Seq("", "split = 'train'", "split = 'val'", "split = 'test'").foreach { pred =>
        rec.op("read:corpus_release", pred) {
          tr.span("pipeline.release_read") {
            val release = spark.read.parquet(s"${wh(i)}/corpus_release").select(releaseCols: _*)
            Digest.of(if (pred.isEmpty) release else release.where(pred))
          }
        }
      }
      rec.op("read:corpus_flags") {
        tr.span("pipeline.release_read") {
          Digest.of(spark.read.parquet(s"${wh(i)}/corpus_flags"))
        }
      }
    }

    /** The release with each pivot forced (through the pipeline's probe
      * hook) inside the span of the stage that produced it. */
    private def tracedRelease(i: Int): Seq[String] = {
      val counts = scala.collection.mutable.Map.empty[String, Long]
      var current = tr.start("text.quality_gate")
      def probe(name: String, df: DataFrame): Unit = {
        counts(name) = df.count()
        nextStage.get(name).filter(_.nonEmpty).foreach { n =>
          tr.end(current)
          current = tr.start(n)
        }
      }
      val out = try Pipeline.runCorpusEtl(spark, in, wh(i), probe) finally tr.end(current)
      def c(n: String) = counts.getOrElse(n, 0L).toDouble
      tr.count("dedup.pairs", c("exact_dedup_ids") - c("near_dedup_survivor_ids"))
      tr.count("corpus.flags", c("contamination_flags"))
      out
    }

    def after(i: Int, traced: Boolean): Unit = cleanup(i)

    def cleanup(i: Int): Unit = deleteTree(Paths.get(wh(i)))
  }

  /** `mart_serving`: the star and marts are built once in set-up; each
    * cycle is the seeded read mix, then one change batch appended to
    * bronze, upserted into the customer (user) source and followed by a
    * refresh of one of the two customer-dependent marts, in turn. */
  final class MartServing(spark: SparkSession, in: String, work: String,
                          tr: Trace, rec: Recorder) extends Workload {
    private val plan = readPlan(in)
    private val changes = spark.read.parquet(s"$in/changes.parquet")
    private val src = s"$work/serve-src"
    private val wh = s"$work/serve-wh"
    private var star: Warehouse.Star = _
    private var snapshot = Array.empty[String]

    override def rotation: Int = 2
    override def maxCycles: Int = plan.size

    override def setup(): Unit = {
      Files.createDirectories(Paths.get(src))
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem").foreach { t =>
        Files.copy(Paths.get(s"$in/$t.parquet"), Paths.get(s"$src/$t.parquet"))
      }
      star = tr.span("warehouse.ensure") { Warehouse.ensure(spark, src) }
      tr.span("pipeline.full_etl") { Pipeline.runFullEtl(spark, src, wh) }
    }

    private def mart(m: String) = spark.read.parquet(s"$wh/$m")
    private def rendered(df: DataFrame): Array[String] =
      df.collect().map(_.toSeq.map(Digest.render).mkString("\u001f"))

    private def read(kind: String, pred: String): DataFrame = kind match {
      case "daily_star" => Gold.dailySummaryFromStar(star.factTrips.where(pred), star.dimDate)
      case "routes_star" => Gold.popularRoutesFromStar(star.factTrips.where(pred), star.dimStation)
      case view => viewRead(spark, wh, view).where(pred)
    }

    private def spanOf(kind: String): String = kind match {
      case "daily_star" => "gold.daily_summary"
      case "routes_star" => "gold.popular_routes"
      case _ => "gold.view_read"
    }

    override def before(i: Int, traced: Boolean): Unit =
      if (traced) snapshot = rendered(mart(plan.get(i).get("mart").asText))

    def cycle(i: Int, traced: Boolean): Unit = {
      val step = plan.get(i)
      step.get("reads").forEach { r =>
        val kind = r.get("kind").asText
        val pred = r.get("pred").asText
        rec.op(s"read:$kind", pred) { tr.span(spanOf(kind)) { Digest.of(read(kind, pred)) } }
      }
      val m = step.get("mart").asText
      rec.op("write", m) { write(i, m); (0L, "") }
    }

    private def write(i: Int, m: String): Unit = {
      val batch = changes.where(col("batch") === i).drop("batch")
      tr.span("bronze.append") { Bronze.appendSink(batch, s"$wh/bronze_customer_changes") }
      tr.span("merge.upsert") {
        val live = Paths.get(s"$src/customer.parquet")
        val next = Paths.get(s"$src/customer.next")
        Merge.upsert(spark.read.parquet(live.toString), batch, Seq("c_custkey"))
          .write.parquet(next.toString)
        Files.move(live, Paths.get(s"$src/customer.prev"))
        Files.move(next, live)
        spark.catalog.refreshByPath(live.toString)
      }
      tr.span("pipeline.refresh_mart") { Pipeline.refreshMart(spark, src, wh, m) }
    }

    override def after(i: Int, traced: Boolean): Unit = {
      val prev = Paths.get(s"$src/customer.prev")
      if (traced && Files.exists(prev)) {
        val now = spark.read.parquet(s"$src/customer.parquet")
        tr.count("merge.changed_ratio",
          now.exceptAll(spark.read.parquet(prev.toString)).count().toDouble / now.count())
        val fresh = rendered(mart(plan.get(i).get("mart").asText))
        val old = snapshot.groupBy(identity).view.mapValues(_.length).toMap
        val changed = fresh.groupBy(identity).map { case (r, rs) =>
          math.max(0, rs.length - old.getOrElse(r, 0)) }.sum
        tr.count("pipeline.refresh_changed_ratio", changed.toDouble / math.max(1, fresh.length))
      }
      cleanup(i)
    }

    def cleanup(i: Int): Unit = deleteTree(Paths.get(s"$src/customer.prev"))
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val log = new StageLog
    if (traced) sc.addSparkListener(log)
    val tr = new Trace(sc)
    val rec = new Recorder
    val wl: Workload = a("workload") match {
      case "etl_full" => new EtlFull(spark, a("inputs"), work, tr, rec)
      case "corpus_release" => new CorpusRelease(spark, a("inputs"), work, tr, rec)
      case "mart_serving" => new MartServing(spark, a("inputs"), work, tr, rec)
    }
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def release(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    tr.on = traced
    wl.setup()
    tr.on = false
    release()
    val readyMs = System.currentTimeMillis()

    val cycles = JsonNodeFactory.instance.arrayNode()
    var i = 0
    def runCycle(timed: Boolean, tracing: Boolean): Unit = {
      rec.cycle = i
      rec.timed = timed
      tr.cycle = i
      wl.before(i, tracing)
      tr.on = tracing
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      tr.span("cycle") { wl.cycle(i, tracing) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
      tr.on = false
      if (timed) wl.after(i, tracing) else wl.cleanup(i)
      release()
      cycles.addObject().put("cycle", i).put("timed", timed).put("traced", tracing)
        .put("wall_s", wall).put("cpu_s", cpu)
      i += 1
    }
    /** Cycles until `until` seconds have passed and the rotation is whole. */
    def phase(until: Double, tracing: Boolean): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (i < wl.maxCycles &&
        (n == 0 || (System.nanoTime() - t0) / 1e9 < until || n % wl.rotation != 0)) {
        runCycle(timed = true, tracing)
        n += 1
      }
    }

    runCycle(timed = false, tracing = false)
    if (traced) {
      phase(seconds / 2, tracing = false)
      phase(seconds / 2, tracing = true)
    } else phase(seconds, tracing = false)

    release()
    // live heap: what the heap pools held right after the last of a few
    // full collections (one alone races Spark's context cleaner)
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    if (traced) StageLog.drain(sc)
    val out = JsonNodeFactory.instance.objectNode()
      .put("ready_ms", readyMs).put("heap_live_mb", heapMb)
    out.putArray("cycles").addAll(cycles)
    out.putArray("ops").addAll(rec.ops)
    out.putArray("checks").addAll(rec.checks)
    out.putArray("spans").addAll(tr.spans)
    out.putArray("counters").addAll(tr.counters)
    out.putArray("events").addAll(log.events)
    new ObjectMapper().writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }
}
