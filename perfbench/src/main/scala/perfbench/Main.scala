package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** JVM side of one benchmark run. `run.py` generates the inputs, launches
  * this main and checks the outputs; this main sets up the Spark session,
  * runs the workload, times it and writes every figure to `<out>/run.json`.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * data (input table directory), out (result directory), work (scratch
  * directory for Spark), launch-ms (epoch ms at which the JVM was
  * launched, so set-up includes JVM start), cores. */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, work: String, launchMs: Long, cores: Int)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"), m("work"), m("launch-ms").toLong, m.getOrElse("cores", "4").toInt)
  }

  /** The session `graft.Bench` ships, at `cores` local threads, with its
    * scratch space kept inside the run's work directory. */
  def session(cores: Int, work: String, stream: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (stream) b
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      // Both stateful operators use processing-time TTL, so Spark would run
      // no-data batches back to back between data batches. Within a run
      // they expire nothing (the TTLs are 60 s and 1 h); they would only
      // make each drain start with a random wait for the one in flight.
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Full evaluation of every output column without collecting. */
  def exec(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def nowMs(): Double = System.nanoTime() / 1e6

  /** Whether pass (or rep) `i` of a traced run has the recorder attached:
    * untraced, traced, traced, untraced, and again, so a linear drift over
    * the run weighs on both sides alike. */
  def tracedTurn(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** The run record: what a reader needs to tell this run's config and
    * machine state apart from another run's. */
  def record(spark: SparkSession, a: Args, extra: Seq[(String, Any)]): Seq[(String, Any)] = {
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sortBy(_._1)
    Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "spark_sql_conf" -> conf.toMap) ++ extra
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val bootS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    new File(a.out).mkdirs()
    val fields: Seq[(String, Any)] =
      if (a.workload == "class-archive") classArchive(a)
      else if (a.workload == Workloads.Stream) ChangeFeed.run(a)
      else if (a.workload == Workloads.Batch) BatchRun.run(a)
      else throw new IllegalArgumentException(s"unknown workload ${a.workload}")
    val json = Json.obj(fields :+ ("jvm_boot_s" -> bootS): _*)
    Files.write(Paths.get(a.out, "run.json"), json.getBytes(StandardCharsets.UTF_8))
    // Spark's non-daemon threads must not outlive the run
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }

  /** Loads the classes every workload needs — session, each batch query,
    * a short change feed — so the JVM that runs this can
    * dump them into a class-data-sharing archive for later runs. */
  private def classArchive(a: Args): Seq[(String, Any)] = {
    val spark = session(a.cores, a.work, stream = true)
    for (q <- Workloads.Queries) exec(SparkEntry.queries(q)(spark, a.data))
    ChangeFeed.rep(spark, a)._1.stop()
    Seq("kind" -> "class-archive")
  }

  /** Per-layer figures of one traced stretch, per pass. `wallMs` is the
    * layer's summed query wall time, the base of `core_util`. */
  def layerMetrics(rec: Recorder, layer: String, groups: String => Boolean,
      passes: Int, wallMs: Double, constructionMs: Double, cores: Int): Seq[(String, Double)] = {
    val accs = rec.read(groups)
    def per(f: rec.Acc => Double): Double = accs.map(f).sum / math.max(1, passes)
    val run = per(_.execRunMs)
    val longest = if (accs.isEmpty) None else Some(accs.maxBy(_.longestStageMs))
    Seq(
      "construction_ms" -> constructionMs / math.max(1, passes),
      "jobs" -> per(_.jobs.toDouble),
      "catalyst_ms" -> per(_.catalystMs),
      "stages" -> per(_.stages.toDouble),
      "tasks" -> per(_.tasks.toDouble),
      "sched_delay_ms" -> per(_.schedDelayMs),
      "exec_run_ms" -> run,
      "exec_cpu_ms" -> per(_.execCpuMs),
      "gc_ms" -> per(_.gcMs),
      "core_util" -> (if (wallMs > 0) run / (wallMs / math.max(1, passes) * cores) else 0.0),
      "serial_stage_ms" -> per(_.serialStageMs),
      "task_skew" -> longest.map(_.longestStageSkew).getOrElse(0.0),
      "shuffle_read_mb" -> per(_.shuffleReadB) / 1e6,
      "shuffle_write_mb" -> per(_.shuffleWriteB) / 1e6,
      "spill_mb" -> per(_.spillB) / 1e6
    ).map { case (k, v) => s"$layer.$k" -> v }
  }
}

/** The batch workload: passes over a fixed list of `SparkEntry` queries,
  * in a seed-determined order per pass. */
object BatchRun {
  import Main._

  /** Wall time of each query of one pass, and the pass's wall time. */
  final case class Pass(ms: Double, queryMs: Map[String, Double], constructionMs: Map[String, Double])

  /** Timed passes per run: per-query figures are medians over these. */
  val MinPasses = 3

  /** Passes with the recorder attached, in a traced run; each follows an
    * untraced pass. */
  val TracedPasses = 2

  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  def run(a: Args): Seq[(String, Any)] = {
    val names = Workloads.Queries
    val setup0 = nowMs()
    val spark = session(a.cores, a.work, stream = false)
    val sessionMs = nowMs() - setup0
    val fns = SparkEntry.queries
    val failed = mutable.LinkedHashMap[String, String]()
    val warmMs = mutable.LinkedHashMap[String, Double]()

    // Warm-up pass: compiles every query's code paths, builds the
    // once-per-JVM indexes and bucketed tables, and writes each result for
    // the oracle check. Part of set-up, outside every timed region.
    for (q <- names) try {
      val t0 = nowMs()
      fns(q)(spark, a.data).write.mode("overwrite").parquet(s"${a.out}/results/$q")
      warmMs(q) = nowMs() - t0
    } catch { case t: Throwable => failed(q) = s"warm-up: $t" }
    Files.write(Paths.get(a.out, "oracle_sql.json"), Json.value(
      SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }).getBytes(StandardCharsets.UTF_8))
    val setupMs = nowMs() - setup0

    def pass(idx: Int, rec: Option[Recorder]): Pass = {
      val qms = mutable.LinkedHashMap[String, Double]()
      val cms = mutable.LinkedHashMap[String, Double]()
      val p0 = nowMs()
      for (q <- order(names, a.seed, idx)) {
        spark.catalog.clearCache()
        def body(): Unit = {
          val t0 = nowMs()
          val df = fns(q)(spark, a.data)
          val t1 = nowMs()
          exec(df)
          cms(q) = t1 - t0
          qms(q) = nowMs() - t0
        }
        try rec match {
          case Some(r) => r.run(s"q:$q")(body())
          case None => body()
        } catch { case t: Throwable => failed.getOrElseUpdate(q, s"timed pass: $t") }
      }
      Pass(nowMs() - p0, qms.toMap, cms.toMap)
    }

    // At least MinPasses untraced passes, more while the next is
    // expected to end in time. A traced run mixes TracedPasses untraced
    // passes with as many passes with the recorder attached, in the order
    // untraced, traced, traced, untraced, so that the run's warm-up trend
    // does not bias the recorder's overhead.
    val rec = if (a.trace) Some(new Recorder(spark)) else None
    val minPasses = if (a.trace) TracedPasses else MinPasses
    val all = mutable.ArrayBuffer[(Pass, Boolean)]()
    def count(traced: Boolean) = all.count(_._2 == traced)
    def untracedMs = all.filterNot(_._2).map(_._1.ms).toSeq
    while (count(false) < minPasses || (rec.isDefined && count(true) < TracedPasses) ||
        (count(false) + 1) * Stats.median(untracedMs) <= a.seconds * 1000.0) {
      val traced = rec.isDefined && tracedTurn(all.size) && count(true) < TracedPasses
      rec.foreach(r => if (traced) r.attach() else r.detach())
      all += ((pass(all.size, if (traced) rec else None), traced))
    }
    val timed = all.filterNot(_._2).map(_._1).toSeq
    val tp = all.filter(_._2).map(_._1).toSeq
    val e2e = summarize(names, timed)
    val peakRss = peakRssMb() // before any named-call or baseline work
    val conf = record(spark, a, Nil) // before the local[1] baseline replaces the session

    val traced: Seq[(String, Any)] = rec match {
      case None => Nil
      case Some(rec) =>
        rec.attach()
        val layers = Workloads.Layers.flatMap { l =>
          val qs = names.filter(Workloads.layerOf(_) == l).toSet
          val wall = tp.map(p => p.queryMs.filter(kv => qs(kv._1)).values.sum).sum
          val cons = tp.map(p => p.constructionMs.filter(kv => qs(kv._1)).values.sum).sum
          layerMetrics(rec, l, g => g.startsWith("q:") && qs(g.drop(2)), tp.size, wall, cons, a.cores)
        }
        val calls = NamedCalls.run(spark, rec, a.data)
        rec.detach()
        val overhead = Stats.median(tp.map(_.ms)) / Stats.median(timed.map(_.ms)) - 1.0
        // single-thread baseline: the CDC queries on a local[1] session
        spark.stop()
        val s1 = session(1, a.work, stream = false)
        val cdc = names.filter(Workloads.layerOf(_) == "cdc")
        def cdcPass(s: SparkSession, idx: Int): Double = {
          val t0 = nowMs()
          for (q <- order(cdc, a.seed, idx)) {
            s.catalog.clearCache()
            try exec(fns(q)(s, a.data))
            catch { case t: Throwable => failed.getOrElseUpdate(q, s"local[1]: $t") }
          }
          nowMs() - t0
        }
        cdcPass(s1, 1000)
        val one = Stats.median((1 to 2).map(i => cdcPass(s1, 1000 + i)))
        val four = Stats.median(timed.map(p => cdc.flatMap(p.queryMs.get).sum))
        val local1 = Seq("local1_pass_s" -> one / 1000.0, "parallel_speedup" -> one / four)
        Seq("layers" -> (layers ++ calls ++ local1 :+ ("trace_overhead_frac" -> overhead)).toMap)
    }

    Seq(
      "kind" -> "batch",
      "peak_rss_mb" -> peakRss,
      "queries" -> names,
      "failed" -> failed.toMap,
      "setup_in_jvm_s" -> setupMs / 1000.0,
      "setup_phases" -> Map("session_s" -> sessionMs / 1000.0, "warm_query_ms" -> warmMs.toMap),
      "e2e" -> e2e,
      "record" -> Json.Raw(Json.obj(conf ++ Seq(
        "query_order" -> all.indices.map(i => order(names, a.seed, i)),
        "pass_traced" -> all.map(_._2).toSeq,
        "pass_s" -> timed.map(_.ms / 1000.0),
        "traced_pass_s" -> tp.map(_.ms / 1000.0),
        "query_ms" -> names.map(q => q -> timed.flatMap(_.queryMs.get(q))).toMap): _*))
    ) ++ traced
  }

  def summarize(names: Seq[String], passes: Seq[Pass]): Map[String, Any] = {
    val perQuery = names.flatMap { q =>
      val xs = passes.flatMap(_.queryMs.get(q))
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val passMs = passes.map(_.ms)
    val lat = Stats.summary(perQuery)
    Map(
      "pass_s" -> Stats.median(passMs) / 1000.0,
      "pass_s_summary" -> Json.Raw(Stats.summary(passMs.map(_ / 1000.0)).json),
      "query_geomean_ms" -> Stats.geomean(perQuery),
      "drain_eps" -> passes.map(_.queryMs.size).sum / (passMs.sum / 1000.0),
      "latency_summary" -> Json.Raw(lat.json))
  }
}
