package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Files
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkEntry, Tables, Verify}
import graft.operators.{Pipeline, RunStore}
import graft.sources.Ingest

/** One benchmark run in one JVM: set up, run the op plan from a single
  * client thread, then check outputs untimed.
  *
  * The op plan (one op per line, tab-separated) is made by run.py from
  * the workload seed:
  *   query    <registered query name>
  *   ingest   <batch> <bronze file>     Ingest.readJsonWithCsvFallback
  *   silver   <batch> <bronze file>     Pipeline.bronzeToSilver + writeSilverPartitioned
  *   gold     <batch>                   Pipeline.silverToGold over all silver so far
  *   runstore <batch>                   RunStore.log of the gold summary
  *
  * Every record goes to `--out` as one JSON object per line; run.py turns
  * them into metrics and grades the check records against expected/.
  */
object Harness {
  private val opts = mutable.Map[String, String]()
  private def opt(k: String): String =
    opts.getOrElse(k, sys.error(s"missing --$k"))

  private lazy val out = new PrintWriter(opt("out"), "UTF-8")
  private def emit(fields: (String, Any)*): Unit = {
    out.println(Json(fields.toMap)); out.flush()
  }

  private def errorOf(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).takeWhile(_ != '\n').take(300)}"

  def main(args: Array[String]): Unit = {
    args.grouped(2).foreach { case Array(k, v) => opts(k.stripPrefix("--")) = v }
    val dataDir = opt("data")
    val work = opt("work")
    val lake = s"$work/lake"
    val trace = opt("trace") == "1"
    val plan = scala.io.Source.fromFile(opt("plan"), "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t").toSeq).toVector
    val warmup = opt("warmup").split(",").filter(_.nonEmpty).toSeq
    val cpus = Runtime.getRuntime.availableProcessors
    val queries = SparkEntry.queries

    emit("type" -> "meta", "nproc" -> cpus, "load_before" -> loadavg())
    opts.get("oracles-out").foreach(f => Files.writeString(new File(f).toPath, Json(SparkEntry.oracleSql)))

    // ---- set-up, timed from JVM start ------------------------------------
    val t0 = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", s"$lake/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerViews(spark, dataDir)
    Tables.wipeDerivedScratch()
    deleteTree(new File(lake))
    for (w <- warmup) {
      try queries(w)(spark, dataDir).write.mode("overwrite").format("noop").save()
      catch { case t: Throwable => emit("type" -> "warmup_failure", "name" -> w, "error" -> errorOf(t)) }
      spark.catalog.clearCache()
    }
    // the DAG's own code paths, on a fixed warm-up batch into a scratch lake
    val warmupBronze = mutable.Map[String, DataFrame]()
    for (file <- opts.get("warmup-bronze"); step <- Seq("ingest", "silver", "gold", "runstore")) {
      try dagStep(spark, step, "warmup", Some(file), s"$work/warmup-lake", warmupBronze)
      catch { case t: Throwable => emit("type" -> "warmup_failure", "name" -> step, "error" -> errorOf(t)) }
    }
    deleteTree(new File(s"$work/warmup-lake"))
    emit("type" -> "setup", "setup_s" -> (System.nanoTime() - t0) / 1e9)

    // ---- timed phase -----------------------------------------------------
    val tracer = if (trace) { val t = new Tracer(spark); t.attach(); Some(t) } else None
    val heap = new HeapWatch
    val busy = startBusyThreads(opts.getOrElse("busy-threads", "0").toInt)
    val bronze = mutable.Map[String, DataFrame]()
    def indexBuilt(): Set[String] =
      Seq("phash_fp", "ann_index").flatMap { d =>
        Option(new File(s"${Tables.scratchRoot}/$d").list()).toSeq.flatten.map(d + "/" + _)
      }.toSet

    def storedBytes(): Long = treeBytes(new File(lake)) + treeBytes(new File(Tables.scratchRoot))
    val storedBefore = storedBytes()
    val phaseStart = System.nanoTime()
    for ((op, i) <- plan.zipWithIndex) {
      val Seq(step, name) = op.take(2)
      val before = tracer.map(_.snapshot())
      val idxBefore = if (trace) indexBuilt() else Set.empty[String]
      val start = System.nanoTime()
      var constructNs = 0L
      var mid: Option[Map[String, Double]] = None
      var resumed = start
      var error = ""
      try step match {
        case "query" =>
          val df = queries.getOrElse(name,
            throw new NoSuchElementException(s"no registered query $name"))(spark, dataDir)
          constructNs = System.nanoTime() - start
          mid = tracer.map(_.snapshot().updated("catalyst.construct_analysis_ms",
            df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)))
          resumed = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
        case _ => dagStep(spark, step, name, op.lift(2), lake, bronze)
      } catch { case t: Throwable => error = errorOf(t) }
      val end = System.nanoTime()
      val ms = (constructNs + end - resumed) / 1e6
      spark.catalog.clearCache()
      val layers = tracer.map { t =>
        val after = t.snapshot()
        val whole = Tracer.delta(after, before.get)
        val exec = Tracer.delta(after, mid.getOrElse(before.get))
        val planMs = Seq("analysis", "optimization", "planning")
          .map(p => exec.getOrElse(s"catalyst.${p}_ms", 0.0)).sum
        val built = (indexBuilt() -- idxBefore).size
        var l = (whole - "catalyst.rule_invocations" - "catalyst.effective_rule_invocations") ++ Map(
          "catalyst.analysis_ms" -> (whole.getOrElse("catalyst.analysis_ms", 0.0) +
            mid.flatMap(_.get("catalyst.construct_analysis_ms")).getOrElse(0.0)),
          "catalyst.rules" -> whole.getOrElse("catalyst.rule_invocations", 0.0),
          "catalyst.effective_rules" -> whole.getOrElse("catalyst.effective_rule_invocations", 0.0),
          "exec.ms" -> math.max(0.0, (end - resumed) / 1e6 - planMs - exec.getOrElse("codegen.compile_ms", 0.0)),
          "index.builds" -> built.toDouble,
          "index.consumer" -> (if (built > 0 || whole.contains("index.reads")) 1.0 else 0.0))
        if (step == "query") l ++= Map(
          "operators.construct_ms" -> constructNs / 1e6,
          "operators.construct_jobs" -> (mid.get.getOrElse("exec.jobs", 0.0) - before.get.getOrElse("exec.jobs", 0.0)))
        l
      }
      emit("type" -> "op", "i" -> i, "step" -> step, "name" -> name,
        "start_ms" -> (start - phaseStart) / 1e6, "end_ms" -> (end - phaseStart) / 1e6,
        "ms" -> ms, "ok" -> error.isEmpty, "error" -> error, "layers" -> layers.getOrElse(Map.empty))
    }
    val wall = (System.nanoTime() - phaseStart) / 1e9
    heap.stop()
    busy.foreach(_.interrupt()); busy.foreach(_.join())
    tracer.foreach(_.detach())
    emit("type" -> "timed", "wall_s" -> wall, "heap_peak_mb" -> heap.peakMb,
      "stored_bytes" -> (storedBytes() - storedBefore),
      "input_bytes" -> plan.filter(_.head == "ingest").map(o => new File(o(2)).length).sum,
      "load_after" -> loadavg())

    // ---- untimed output check ---------------------------------------------
    val drawn = plan.filter(_.head == "query").map(_(1)).distinct
    val approx = Set("agg_approx_count_distinct", "agg_hll_sketch_union",
      "agg_kll_quantiles", "agg_approx_percentile", "sample_bernoulli_seeded")
    for (q <- drawn.filterNot(approx)) {
      val dir = s"$work/check/$q"
      try {
        queries(q)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(dir)
        emit("type" -> "check", "kind" -> "dump", "name" -> q, "path" -> dir)
      } catch { case t: Throwable =>
        emit("type" -> "check", "kind" -> "dump", "name" -> q, "error" -> errorOf(t))
      }
      spark.catalog.clearCache()
    }
    if (drawn.exists(approx)) {
      try Verify.approxBoundRows(spark, dataDir, grade = drawn.toSet).foreach {
        case (q, m, v, lo, hi, within) =>
          emit("type" -> "check", "kind" -> "approx", "name" -> q, "metric" -> m,
            "value" -> v, "lo" -> lo, "hi" -> hi, "within" -> within)
      } catch { case t: Throwable =>
        drawn.filter(approx).foreach(q =>
          emit("type" -> "check", "kind" -> "approx", "name" -> q, "error" -> errorOf(t)))
      }
    }
    if (plan.exists(_.head == "silver")) {
      try spark.read.parquet(s"$lake/silver").groupBy(col("date").cast("string"))
        .count().collect().foreach(r =>
          emit("type" -> "check", "kind" -> "silver_rows", "name" -> r.getString(0), "rows" -> r.getLong(1)))
      catch { case t: Throwable =>
        emit("type" -> "check", "kind" -> "silver_rows", "name" -> "*", "error" -> errorOf(t)) }
      val sample = opts.get("sample").toSeq.flatMap(f =>
        scala.io.Source.fromFile(f, "UTF-8").getLines().filter(_.nonEmpty).toSeq)
      try spark.read.parquet(s"$lake/gold").where(col("Address").isin(sample: _*))
        .groupBy("Address").agg(collect_list(col("price_per_m2"))).collect().foreach(r =>
          emit("type" -> "check", "kind" -> "gold_price", "name" -> r.getString(0),
            "values" -> r.getSeq[Double](1)))
      catch { case t: Throwable =>
        emit("type" -> "check", "kind" -> "gold_price", "name" -> "*", "error" -> errorOf(t)) }
    }
    emit("type" -> "end")
    out.close()
    spark.stop()
  }

  /** One step of the reference DAG on bronze batch `batch`, writing under
    * `lake`: ingest (read the crawl file), silver (clean + partitioned
    * write), gold (features over all silver) or runstore (log the gold
    * summary). */
  private def dagStep(spark: SparkSession, step: String, batch: String, file: Option[String],
      lake: String, bronze: mutable.Map[String, DataFrame]): Unit = step match {
    case "ingest" =>
      bronze(batch) = Ingest.readJsonWithCsvFallback(spark, file.get)
    case "silver" =>
      val mode = "spark.sql.sources.partitionOverwriteMode"
      spark.conf.set(mode, "dynamic")
      try Pipeline.writeSilverPartitioned(Pipeline.bronzeToSilver(bronze(batch)),
        new File(file.get).getName, s"$lake/silver")
      finally spark.conf.unset(mode)
    case "gold" =>
      Pipeline.silverToGold(spark.read.parquet(s"$lake/silver"))
        .write.mode("overwrite").parquet(s"$lake/gold")
    case "runstore" =>
      RunStore.log(spark, s"$lake/mlruns", s"gold_$batch", "medallion_gold",
        Seq("batch" -> batch, "seed" -> opt("seed")),
        spark.read.parquet(s"$lake/gold").agg(count(lit(1)).as("rows"),
          avg(col("price_per_m2")).as("avg_price_per_m2")))
    case other => throw new IllegalArgumentException(s"unknown step $other")
  }

  private def loadavg(): Seq[Double] =
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).map(_.toDouble).toSeq

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def treeBytes(f: File): Long =
    if (!f.exists) 0L
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Threads that spin until interrupted: planted contention for the
    * benchmark's self-test. */
  private def startBusyThreads(n: Int): Seq[Thread] = (1 to n).map { _ =>
    val t = new Thread(() => {
      var x = 0L
      while (!Thread.currentThread.isInterrupted) x += 1
    })
    t.setDaemon(true); t.start(); t
  }

  /** Largest heap still in use right after a collection, read from the
    * JVM's own GC notifications from construction until `stop`. */
  private final class HeapWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    @volatile private var peak = 0L
    emitters.foreach(_.addNotificationListener(this, null, null))

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        peak = math.max(peak, after.collect { case (p, u) if heapPools(p) => u.getUsed }.sum)
      }
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
    def peakMb: Double = peak / 1048576.0
  }
}

/** Minimal JSON rendering for the harness's records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
