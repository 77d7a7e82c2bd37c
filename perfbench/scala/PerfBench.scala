package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Q
import graft.pipeline.{GhArchive, LakeConfig, Medallion, PathLayout}

/** One benchmark invocation inside a fresh JVM: set up a session, warm
  * up, run the workload's passes until `seconds` have been measured, then
  * (traced) one more pass with the [[Recorder]] attached and the split
  * calls that give per-layer numbers. Raw samples go to `out` as JSON;
  * statistics, DuckDB checks and the result line are made by run.py.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *          --trace 0|1 --cpus N --out FILE [--valid N]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val spark = graft.Sessions.local(o("cpus"))
    val h = new Harness(spark, o("inputs"), o("work"), o("seconds").toDouble,
      o("trace") == "1", o("cpus").toInt)
    try {
      o("workload") match {
        case "medallion_day" => MedallionDay.run(h, o("valid").toLong)
        case "curation_composites" => CurationComposites.run(h)
        case w => sys.error(s"unknown workload $w")
      }
      h.write(o("out"))
    } finally spark.stop()
  }
}

/** Shared state of one invocation: timing, counting attempts and
  * failures, the optional recorder, and the JSON the JVM hands back. */
final class Harness(val spark: SparkSession, val inputs: String, val work: String,
    val seconds: Double, val traced: Boolean, val cores: Int) {
  val opS = mutable.ArrayBuffer.empty[Double]
  val passS = mutable.ArrayBuffer.empty[Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var setupS = 0.0
  var rec: Option[Recorder] = None

  /** Time from JVM start, as the operating system reports it. */
  def sinceStart: Double =
    (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def snap: Counters = rec.fold(Counters()) { r => BusDrain(spark.sparkContext); r.snapshot }

  /** Run one operation: its wall seconds (None if it threw, which counts as
    * a failed attempt) and, when traced, the Spark work it caused. */
  def op(name: String)(f: => Any): (Option[Double], Counters) = {
    attempted += 1
    val c0 = snap
    val t0 = System.nanoTime
    try {
      f
      val s = (System.nanoTime - t0) / 1e9
      (Some(s), snap - c0)
    } catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        (None, snap - c0)
    }
  }

  def check(name: String, ok: => Boolean, detail: => String): Unit = {
    attempted += 1
    try { if (!ok) failures += s"$name: $detail" }
    catch { case NonFatal(e) => failures += s"$name: $e" }
  }

  /** Warm-up ends with `settle` unrecorded passes, since the JIT needs a
    * few passes to settle; then measured passes: at least `minPasses`, and
    * more while under `seconds`. `record` says whether a pass is measured. */
  def measure(settle: Int, minPasses: Int)(pass: Boolean => Unit): Unit = {
    (1 to settle).foreach(_ => pass(false))
    setupS = sinceStart
    val t0 = System.nanoTime
    var n = 0
    while (n < minPasses || (System.nanoTime - t0) / 1e9 < seconds) { pass(true); n += 1 }
  }

  /** Run `f` with the recorder attached and put the Spark layer numbers
    * of its window (prefix `spark.`) and the heap peak into `layers`;
    * the recorder is detached again afterwards. */
  def tracedWindow(f: => Unit): Unit = {
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    rec = Some(r)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val c0 = snap
    val w0 = System.currentTimeMillis
    f
    val c = snap - c0
    val w1 = System.currentTimeMillis
    spark.sparkContext.removeSparkListener(r)
    rec = None
    val wall = (w1 - w0) / 1e3
    val mb = 1024.0 * 1024.0
    layers ++= Seq(
      "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble, "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_run_s" -> c.runMs / 1e3, "spark.gc_s" -> c.gcMs / 1e3,
      "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
      "spark.spill_mb" -> c.spillBytes / mb, "spark.input_mb" -> c.inputBytes / mb,
      "spark.output_mb" -> c.outputBytes / mb,
      "spark.core_busy_frac" -> c.runMs / 1e3 / (wall * cores),
      "spark.driver_gap_s" -> r.gapMs(w0, w1) / 1e3,
      "jvm.heap_peak_mb" -> pools.map(_.getPeakUsage.getUsed).sum / mb)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def write(path: String): Unit = {
    val m = Map(
      "setup_s" -> setupS, "op_s" -> opS.toSeq, "pass_s" -> passS.toSeq,
      "attempted" -> attempted, "failures" -> failures.toSeq,
      "layers" -> layers.toMap, "extra" -> extra.toMap,
      "versions" -> Map("spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValue(new File(path), m)
  }
}

object Fs {
  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  /** Bytes and count of files under `path` whose name ends with `suffix`. */
  def du(path: String, suffix: String = ""): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator.asScala
        .filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    }
  }
}

/** The paper's workload: a bronze day to silver hour by hour and to gold
  * nightly (the cron path), then the same files through the streaming
  * catch-up path, each pass on empty lake roots and checkpoints. */
object MedallionDay {
  val Day: LocalDateTime = LocalDateTime.of(2024, 3, 1, 0, 0)
  val WarmHour: LocalDateTime = Day.minusHours(1)
  private val Base = "gharchive/events"

  final case class Pass(silver: LakeConfig, catchup: LakeConfig, ckpt: String,
      hours: Seq[Double], gold: Double, cuSilver: Double, cuGold: Double,
      hourCounters: Seq[Counters], total: Double)

  private def lakes(h: Harness, tag: String, bronze: String) = (
    LakeConfig(bronze, s"${h.work}/$tag/cron/silver", s"${h.work}/$tag/cron/gold"),
    LakeConfig(bronze, s"${h.work}/$tag/catchup/silver", s"${h.work}/$tag/catchup/gold"),
    s"${h.work}/$tag/catchup/ckpt")

  /** One pass over `hours` of `bronze`; cleanup happens before the clock. */
  def pass(h: Harness, tag: String, bronze: String, hours: Seq[LocalDateTime]): Pass = {
    val (cron, cu, ckpt) = lakes(h, tag, bronze)
    Fs.rm(s"${h.work}/$tag")
    val m = new Medallion(h.spark, cron)
    val hourly = hours.map(hr => h.op(s"silver $hr")(m.serialiseRawData(hr)))
    val gold = h.op("gold")(m.aggregateSilverData(hours.head))
    val mc = new Medallion(h.spark, cu)
    val cuSilver = h.op("catchup silver")(mc.serialiseRawDataStreaming(s"$ckpt/silver"))
    val cuGold = h.op("catchup gold")(mc.aggregateGoldStreaming(s"$ckpt/gold"))
    def s(x: (Option[Double], Counters)) = x._1.getOrElse(Double.NaN)
    val hs = hourly.map(s)
    Pass(cron, cu, ckpt, hs, s(gold), s(cuSilver), s(cuGold), hourly.map(_._2),
      hs.sum + s(gold) + s(cuSilver) + s(cuGold))
  }

  private def goldPath(c: LakeConfig) =
    PathLayout.sinkPath(c.goldRoot, Base, "agg", Day, hasHourlyPartition = false)

  /** Order-insensitive digest of a frame: row count and the exact sum of
    * per-row 64-bit hashes. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def checks(h: Harness, p: Pass, valid: Long): Unit = {
    val spark = h.spark
    val silver = spark.read.parquet(PathLayout.silverDailyGlob(p.silver.silverRoot, Base, Day))
    val silverRows = silver.count()
    h.check("silver rows = valid lines", silverRows == valid, s"$silverRows != $valid")
    val gold = spark.read.parquet(goldPath(p.silver))
    val goldSum = gold.agg(sum("event_count")).head().getLong(0)
    h.check("sum gold event_count = silver rows", goldSum == silverRows, s"$goldSum != $silverRows")
    val cuRows = spark.read.parquet(s"${p.catchup.silverRoot}/$Base/streaming").count()
    h.check("catch-up silver rows = valid lines", cuRows == valid, s"$cuRows != $valid")
    val a = digest(gold)
    val b = digest(spark.read.parquet(s"${p.catchup.goldRoot}/$Base/streaming"))
    h.check("batch gold = streaming gold", a == b, s"$a != $b")
  }

  def run(h: Harness, valid: Long): Unit = {
    val day = (0 until 24).map(i => Day.plusHours(i))
    pass(h, "warm", s"${h.inputs}/warm", Seq(WarmHour))
    Fs.rm(s"${h.work}/warm")
    h.measure(settle = 2, minPasses = 2) { record =>
      val p = pass(h, "day", s"${h.inputs}/day", day)
      if (record) {
        checks(h, p, valid)
        h.opS ++= p.hours
        h.passS += p.total
      }
    }
    if (h.traced) traced(h, day, valid)
  }

  /** Per-layer numbers: one pass with the recorder, then split calls into
    * the same public functions (decode only, decode + clean, gold scan +
    * aggregate) to a `noop` sink. */
  private def traced(h: Harness, day: Seq[LocalDateTime], valid: Long): Unit = {
    val spark = h.spark
    var p: Pass = null
    h.tracedWindow { p = pass(h, "day", s"${h.inputs}/day", day) }
    checks(h, p, valid)
    val post = pass(h, "post", s"${h.inputs}/day", day)
    Fs.rm(s"${h.work}/post")
    val raw = (hr: LocalDateTime) => spark.read.schema(GhArchive.rawSchema)
      .option("mode", "DROPMALFORMED")
      .json(PathLayout.rawHourlyGlob(s"${h.inputs}/day", Base, hr))
    val decode = day.map(hr => h.op(s"decode $hr")(h.noop(raw(hr)))._1.getOrElse(0.0))
    val clean = day.map(hr => h.op(s"clean $hr")(h.noop(GhArchive.clean(raw(hr))))._1.getOrElse(0.0))
    val silverGlob = PathLayout.silverDailyGlob(p.silver.silverRoot, Base, Day)
    val scanAgg = h.op("gold scan+agg")(h.noop(GhArchive.aggregate(spark.read.parquet(silverGlob))))
      ._1.getOrElse(0.0)
    val lines = spark.read.text(s"${h.inputs}/day/$Base/*/*/*").count()
    val silverRows = spark.read.parquet(silverGlob).count()
    val (silverBytes, _) = Fs.du(p.silver.silverRoot, ".parquet")
    val (bronzeBytes, _) = Fs.du(s"${h.inputs}/day", ".json.gz")
    val (_, ckptFiles) = Fs.du(p.ckpt)
    val batches = Seq("silver", "gold").map { s =>
      Option(new File(s"${p.ckpt}/$s/offsets").listFiles).fold(0)(_.count(!_.getName.startsWith(".")))
    }.sum
    val mb = 1024.0 * 1024.0
    val tasksPerHour = p.hourCounters.map(c => c.tasks.toDouble / math.max(c.jobs, 1)).sorted
    h.layers ++= Seq(
      "pipeline.decode_s" -> decode.sum,
      "pipeline.clean_s" -> (clean.sum - decode.sum),
      "pipeline.silver_write_s" -> (p.hours.sum - clean.sum),
      "pipeline.hour_tasks" -> tasksPerHour(tasksPerHour.size / 2),
      "pipeline.malformed_dropped" -> (lines - silverRows).toDouble,
      "pipeline.bronze_mb" -> bronzeBytes / mb,
      "pipeline.silver_mb" -> silverBytes / mb,
      "pipeline.silver_bytes_per_event" -> silverBytes.toDouble / silverRows,
      "pipeline.cron_day_s" -> (p.hours.sum + p.gold),
      "pipeline.gold_day_s" -> p.gold,
      "pipeline.gold_scan_agg_s" -> scanAgg,
      "pipeline.gold_write_s" -> (p.gold - scanAgg),
      "pipeline.gold_rows" -> spark.read.parquet(goldPath(p.silver)).count().toDouble,
      "pipeline.batch_events_per_s" -> valid / (p.hours.sum + p.gold),
      "streaming.catchup_silver_s" -> p.cuSilver,
      "streaming.catchup_gold_s" -> p.cuGold,
      "streaming.batches" -> batches.toDouble,
      "streaming.checkpoint_files" -> ckptFiles.toDouble,
      "streaming.catchup_events_per_s" -> valid / (p.cuSilver + p.cuGold))
    h.extra ++= Seq("traced_op_s" -> p.hours, "traced_pass_s" -> p.total,
      "post_op_s" -> post.hours, "post_pass_s" -> post.total)
  }
}

/** Composite builds from the query registry: each built by its public
  * builder and executed to a `noop` sink. The untimed first pass writes
  * every result for the DuckDB oracle check and doubles as warm-up. */
object CurationComposites {
  /** Incremental curation (the longest serial job chain, with index
    * store writes and `core.Par`) and frequent itemsets (a serial
    * candidate loop). */
  val queries: Seq[Q] = Seq("x_incremental_curation", "x_freq_itemsets")
    .map(n => Q(n, graft.SparkEntry.oracleSql.get(n), graft.SparkEntry.queries(n)))

  private def noopPass(h: Harness, lake: String): Seq[Double] =
    queries.map(q => h.op(q.name)(h.noop(q.build(h.spark, lake)))._1.getOrElse(Double.NaN))

  def run(h: Harness): Unit = {
    val lake = h.inputs
    val dump = s"${h.work}/results"
    Fs.rm(dump)
    queries.foreach { q =>
      h.op(q.name)(q.build(h.spark, lake).coalesce(1).write.mode("overwrite")
        .parquet(s"$dump/${q.name}"))
    }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(queries.flatMap(q => q.oracle.map(q.name -> _)).toMap))
    h.extra("results_dir") = dump
    h.measure(settle = 1, minPasses = 3) { record =>
      val ts = noopPass(h, lake)
      if (record) {
        h.opS ++= ts
        h.passS += ts.sum
      }
    }
    if (h.traced) traced(h, lake)
  }

  /** One pass with the recorder, each query split into its builder call
    * (with the eager jobs it runs), planning, and the `noop` write. */
  private def traced(h: Harness, lake: String): Unit = {
    val split = mutable.ArrayBuffer.empty[(String, Double, Double, Double, Counters)]
    h.tracedWindow {
      queries.foreach { q =>
        var df: DataFrame = null
        val (b, cb) = h.op(s"${q.name} build") { df = q.build(h.spark, lake) }
        val (pl, cp) = h.op(s"${q.name} plan")(df.queryExecution.executedPlan)
        val (e, ce) = h.op(s"${q.name} exec")(h.noop(df))
        split += ((q.name, b.getOrElse(0.0), pl.getOrElse(0.0), e.getOrElse(0.0), cb + cp + ce))
      }
    }
    val post = noopPass(h, lake)
    split.foreach { case (name, b, _, e, c) =>
      h.layers ++= Seq(s"$name.build_s" -> b, s"$name.exec_s" -> e,
        s"$name.jobs" -> c.jobs.toDouble, s"$name.task_cpu_s" -> c.cpuNs / 1e9)
    }
    h.layers ++= Seq(
      "ops.build_s" -> split.map(_._2).sum, "ops.plan_s" -> split.map(_._3).sum,
      "ops.exec_s" -> split.map(_._4).sum,
      "ops.jobs_per_query" -> split.map(_._5.jobs).sum.toDouble / split.size)
    val opS = split.map(s => s._2 + s._3 + s._4).toSeq
    h.extra ++= Seq("traced_op_s" -> opS, "traced_pass_s" -> opS.sum,
      "post_op_s" -> post, "post_pass_s" -> post.sum)
  }
}
