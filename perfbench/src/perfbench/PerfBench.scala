package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{Caches, Derived, SparkEntry}
import graft.ops.Status
import graft.pipeline.{KVRegistry, TributePipeline}
import graft.sources.Sources

/** Benchmark of the flagship streaming pipeline and a fixed batch-query set.
  *
  * One run executes four phases in one Spark session, each timed from the
  * outside through public calls:
  *  - bulk: closed-loop drain of staged JSON files through `TributePipeline.run`;
  *  - paced: open loop at a fixed event rate into an in-memory source;
  *  - erase: `TributePipeline.forgetTributes` over an event log written in set-up;
  *  - batch: the fixed `SparkEntry.queries` set over the bundled tables.
  * Every output is checked against what the generator or the pins expect.
  *
  * Usage: PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --root <checkout> --work <scratch dir> --trace-out <file> [--print-hashes 1]
  */
object PerfBench {

  final case class Workload(keys: Int, zipf: Boolean)
  val Workloads = Map(
    "skewed_keys" -> Workload(keys = 16384, zipf = true),
    "distinct_keys" -> Workload(keys = 32768, zipf = false))

  val Cores = 4
  val BulkFileEvents = 4096
  val BulkFiles = 4
  /** The bulk files are drained in this many parts, each its own query, at
    * different points of the run. */
  val BulkParts = 2
  val EraseFileEvents = 128
  val EraseFiles = 1
  val EraseVictimsPerCall = 4
  val TickMs = 5
  val TickEvents = 1 // 200 events/s
  val PacedWarmupMs = 5000
  val Setups = 3
  /** Shares of `--seconds` spent in the paced window and the erase calls;
    * batch is one pass. */
  val PacedShare = 0.3
  val EraseShare = 0.15

  /** Three entry families: the exact-decimal kernel (q02), a
    * derived-artifact consumer (q110) and the quantile sketch (q239). */
  val BatchQueries = Seq("q02", "q110", "q239")
  val BatchData = "perfbench/data/sf0.01"
  val Pins = "perfbench/pins.json"

  /** Operations attempted and failed, summed over phases. */
  final class Ops {
    var attempted, failed = 0L
    def add(n: Long, bad: Long): Unit = { attempted += n; failed += math.min(n, math.max(0L, bad)) }
  }

  final class Env(val spark: SparkSession, val gen: Gen, val work: Path, val tributes: DataFrame,
      val games: DataFrame, val bulkParts: IndexedSeq[(Path, IndexedSeq[Ev])],
      val eraseStore: String, val eraseLog: Path, val eraseEvents: IndexedSeq[Ev]) {
    def bulkEvents: IndexedSeq[Ev] = bulkParts.flatMap(_._2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val wl = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val root = Paths.get(opts("root")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val gen = new Gen(root.resolve("src/test/resources/fixtures"), wl.keys, wl.zipf, seed)
    val ops = new Ops
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

    if (opts.get("print-hashes").contains("1")) {
      val spark = session(work, Cores)
      val dir = root.resolve(BatchData).toString
      batchFns.foreach { case (q, fn) =>
        val df = fn(spark, dir)
        println(s"""  "$q": "${hash(df.columns, df.collect())}",""")
      }
      spark.stop()
      System.exit(0)
    }

    if (!trace) {
      val setupTimes = mutable.ArrayBuffer.empty[Double]
      var env: Env = null
      for (i <- 0 until Setups) {
        if (env != null) env.spark.stop()
        val t0 = System.nanoTime()
        env = setup(root, work.resolve(s"s$i"), gen, Cores)
        setupTimes += (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"[perfbench] setup_s runs: ${setupTimes.mkString(", ")}")
      // The pipeline's triggers keep getting faster for the first dozen or so
      // as the JIT compiles them. The first bulk part warms the per-event
      // code, and paced then skips its own warm-up ticks. The bulk rate is
      // taken over two parts at different points of the run, so one burst of
      // host contention does not decide it. Batch runs last.
      val bulkA = phase("bulk") { bulk(env, ops, "bulk", Seq(0)) }
      val (p50, p99, _) = phase("paced") { paced(env, ops, (seconds * PacedShare * 1000).toInt, stats = None) }
      val eraseS = phase("erase") { erase(env, ops, seconds * EraseShare, stats = None) }
      val bulkB = phase("bulk") { bulk(env, ops, "bulk", Seq(1)) }
      val eps = (bulkA._1 + bulkB._1) / (bulkA._2 + bulkB._2)
      val (total, geo, _) = phase("batch") { batch(env, root, ops, 0, stats = None) }
      metrics("events_per_s") = (eps, "events/s")
      metrics("event_latency_ms_p50") = (p50, "ms")
      metrics("event_latency_ms_p99") = (p99, "ms")
      metrics("erase_s") = (eraseS, "s")
      metrics("batch_total_s") = (total, "s")
      metrics("batch_geomean_s") = (geo, "s")
      metrics("setup_s") = (median(setupTimes.toSeq), "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      env.spark.stop()
    } else {
      traced(root, work, gen, ops, seconds, metrics, Paths.get(opts("trace-out")))
    }

    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${ops.failed == 0}, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": {$m}}""")
    System.out.flush()
    System.exit(0)
  }

  // ---------------------------------------------------------------- set-up

  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.minPartitionNum", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.graft.derived.root", work.resolve("derived").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Session start, dimension load, input staging and warm-up. The warm-up
    * is the drain that writes the erase phase's event log. */
  def setup(root: Path, work: Path, gen: Gen, cores: Int): Env = {
    Files.createDirectories(work)
    val spark = session(work, cores)
    val dims = Files.createDirectories(work.resolve("dims"))
    gen.writeTributeCsv(dims.resolve("tributes.csv"))
    Files.copy(root.resolve("src/test/resources/fixtures/staticData/gameData.json"),
      dims.resolve("gameData.json"))
    val tributes = Sources.tributeDim(spark, dims.resolve("tributes.csv").toString)
    val games = Sources.gameDim(spark, dims.resolve("gameData.json").toString)
    tributes.count(); games.count()

    val bulkParts = gen.events("bulk", BulkFiles * BulkFileEvents)
      .grouped(BulkFiles / BulkParts * BulkFileEvents).zipWithIndex
      .map { case (evs, p) => (stage(work.resolve(s"in-bulk-$p"), evs, BulkFileEvents), evs) }.toIndexedSeq
    val eraseEvents = gen.events("erase", EraseFiles * EraseFileEvents)
    val eraseDir = stage(work.resolve("in-erase"), eraseEvents, EraseFileEvents)

    val eraseStore = s"file:${work.resolve("kv-erase")}"
    val eraseLog = work.resolve("log-erase")
    drain(spark, eraseDir, tributes, games, eraseStore, eraseLog, work.resolve("ckpt-erase"))
    new Env(spark, gen, work, tributes, games, bulkParts, eraseStore, eraseLog, eraseEvents)
  }

  /** JSON-array files of `perFile` events. Modification times are set one
    * second apart so the file source reads them in generation order. */
  def stage(dir: Path, evs: IndexedSeq[Ev], perFile: Int): Path = {
    Files.createDirectories(dir)
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    evs.grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
      val f = dir.resolve(f"part-$i%04d.json")
      Gen.writeJsonArray(f, chunk)
      f.toFile.setLastModified(t0 + i * 1000L)
    }
    dir
  }

  /** Drains `dir` through `TributePipeline.run`, one file per trigger;
    * returns the progress of each trigger. */
  def drain(spark: SparkSession, dir: Path, tributes: DataFrame, games: DataFrame,
      store: String, log: Path, ckpt: Path): Seq[StreamingQueryProgress] = {
    val q = TributePipeline.run(Sources.eventStream(spark, dir.toString), tributes, games,
      store, log.toString, ckpt.toString)
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress.toSeq.sortBy(_.batchId)
    println(s"# drain ${dir.getFileName}: trigger ms " +
      progress.map(_.durationMs.get("triggerExecution")).mkString(" "))
    progress
  }



  /** Runs one phase and prints its wall time, the host's CPU steal and the
    * JVM's GC time over it as a diagnostic line. Files that earlier phases
    * left unwritten are flushed first, untimed, so their writeback does not
    * land inside this phase. */
  def phase[T](name: String)(f: => T): T = {
    new ProcessBuilder("sync").inheritIO().start().waitFor()
    val t0 = System.nanoTime()
    val steal0 = stealMs()
    val gc0 = gcMs()
    try f
    finally println(f"# phase $name ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      s"steal ${stealMs() - steal0} ms gc ${gcMs() - gc0} ms")
  }

  /** CPU time the hypervisor gave to others, summed over CPUs (ms). */
  def stealMs(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong * 10

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  // ---------------------------------------------------------------- checks

  /** Failed events: events of tributes whose final state differs from the
    * generator's, state for keys no event named, and sampled log objects
    * that are missing or render a decimal other than as a JSON string. */
  def checkStream(gen: Gen, evs: Seq[Ev], store: String, log: Path, sampleSeed: Long): Long = {
    val expected = gen.expectedState(evs)
    val got = KVRegistry.getOrCreate(store).snapshot()
    val perKey = evs.groupBy(_.tribute).map { case (k, v) => k -> v.size.toLong }
    val badKeys = expected.keySet.filter(k => !got.get(k).contains(expected(k)))
    val extra = (got.keySet -- expected.keySet).size.toLong
    val known = evs.filter(gen.isKnown)
    val logged = Files.list(log).iterator().asScala.count(_.toString.endsWith(".json")).toLong
    val mapper = new ObjectMapper()
    val badLog = new Random(sampleSeed).shuffle(known).take(32).count { e =>
      val f = log.resolve(e.id + ".json")
      !Files.exists(f) || {
        val n = mapper.readTree(f.toFile)
        Gen.Measures.indices.exists { i =>
          val v = n.get(Gen.Measures(i))
          v == null || !v.isTextual || v.asText() != e.dec(i).toPlainString
        } || n.get("tributeid").asText() != e.tribute
      }
    }
    val bad = badKeys.toSeq.map(perKey).sum + extra + math.abs(known.size - logged) + badLog
    if (bad > 0) System.err.println(s"[perfbench] stream check: ${badKeys.size} wrong keys, " +
      s"$extra extra keys, ${known.size} events vs $logged log objects, $badLog bad sampled objects")
    bad
  }

  // ---------------------------------------------------------------- phases

  /** Closed-loop drains of the given parts of the staged files, each its
    * own query with its own store and log; returns the events drained and
    * the summed wall seconds from query start to `processAllAvailable`
    * returning. */
  def bulk(env: Env, ops: Ops, tag: String, parts: Seq[Int]): (Long, Double) =
    parts.map { p =>
      val (dir, evs) = env.bulkParts(p)
      val store = s"file:${env.work.resolve(s"kv-$tag-$p")}"
      val log = env.work.resolve(s"log-$tag-$p")
      val n = evs.size.toLong
      try {
        val t0 = System.nanoTime()
        drain(env.spark, dir, env.tributes, env.games, store, log, env.work.resolve(s"ckpt-$tag-$p"))
        val wall = (System.nanoTime() - t0) / 1e9
        ops.add(n, checkStream(env.gen, evs, store, log, n))
        (n, wall)
      } catch {
        case e: Exception => fail(s"bulk $tag", e); ops.add(n, n); (n, Double.NaN)
      }
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  def rate(r: (Long, Double)): Double = r._1 / r._2

  def allParts: Seq[Int] = 0 until BulkParts

  /** Open loop: one generator thread sends `TickEvents` events every `TickMs`
    * into an in-memory source decoded by `Sources.decodeEventValue`. Each tick
    * is timed from when it was due to the end of the micro-batch whose
    * committed source offset covers it. Ticks due in the warm-up are not
    * sampled. Returns p50 and p99 latency (ms) and the batch progress. */
  def paced(env: Env, ops: Ops, windowMs: Int, stats: Option[(TaskStats, mutable.Map[String, Double])])
      : (Double, Double, Seq[StreamingQueryProgress]) = {
    val spark = env.spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val nTicks = (PacedWarmupMs + windowMs) / TickMs
    val evs = env.gen.events("paced", nTicks * TickEvents)
    val payload = evs.grouped(TickEvents).map(_.map(_.json.getBytes(StandardCharsets.UTF_8))).toIndexedSeq
    // one partition per micro-batch, as from the reference's single shard
    val mem = MemoryStream[Array[Byte]](1)
    val store = s"file:${env.work.resolve("kv-paced")}"
    val log = env.work.resolve("log-paced")
    val q = TributePipeline.run(Sources.decodeEventValue(mem.toDF()), env.tributes, env.games,
      store, log.toString, env.work.resolve("ckpt-paced").toString)
    val offsets = new Array[Long](nTicks)
    val sentAt = new Array[Long](nTicks)
    val start = System.currentTimeMillis() + 500
    val generator = new Thread(() => {
      for (i <- 0 until nTicks) {
        val due = start + i.toLong * TickMs
        var now = System.currentTimeMillis()
        while (now < due) { Thread.sleep(due - now); now = System.currentTimeMillis() }
        sentAt(i) = now
        offsets(i) = mem.addData(payload(i)).asInstanceOf[LongOffset].offset
      }
    }, "perfbench-generator")
    try {
      generator.start()
      generator.join()
      q.processAllAvailable()
    } catch {
      case e: Exception => fail("paced", e); q.stop(); ops.add(nTicks, nTicks)
        return (Double.NaN, Double.NaN, Nil)
    }
    q.stop()

    val progress = q.recentProgress.toSeq.sortBy(_.batchId)
    // (end epoch ms, last committed offset) per batch that advanced the source
    val batches = mutable.ArrayBuffer.empty[(Long, Long, StreamingQueryProgress)]
    progress.foreach { p =>
      val end = Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue
      val off = Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
      if (batches.isEmpty || off > batches.last._2) batches += ((end, off, p))
    }
    val warmEnd = start + PacedWarmupMs
    val samples = mutable.ArrayBuffer.empty[Double]
    var b = 0
    for (i <- 0 until nTicks) {
      while (b < batches.size && batches(b)._2 < offsets(i)) b += 1
      val due = start + i.toLong * TickMs
      if (b < batches.size && due >= warmEnd) samples += (batches(b)._1 - due).toDouble
    }
    val measured = batches.filter(_._1 >= warmEnd)
    val perBatch = measured.zip(batches.drop(batches.size - measured.size - 1))
      .map { case (cur, prev) => (cur._2 - prev._2) * TickEvents }
    val backlog = measured.map { case (end, off, _) =>
      (sentAt.count(t => t > 0 && t <= end) - offsets.count(_ <= off)).toLong * TickEvents
    }
    // growing: even the smallest backlog in the last third of the window is
    // above two batches' worth and above every backlog of the first third
    val third = math.max(1, backlog.size / 3)
    val growing = backlog.size >= 3 &&
      backlog.takeRight(third).min > math.max(2 * median(perBatch.map(_.toDouble).toSeq),
        backlog.take(third).max.toDouble)
    val lateMax = (0 until nTicks).map(i => sentAt(i) - (start + i.toLong * TickMs)).max
    println("# paced trigger ms " + batches.map(_._3.durationMs.get("triggerExecution")).mkString(" "))
    val beyond = samples.size - math.ceil(0.99 * samples.size).toInt
    println(s"# paced: ${samples.size} latency samples after ${PacedWarmupMs} ms warm-up, " +
      s"$beyond beyond p99; ${measured.size} batches; backlog max ${if (backlog.isEmpty) 0 else backlog.max} " +
      s"events; generator late max $lateMax ms${if (growing) "; BACKLOG GROWING" else ""}")
    val bad = checkStream(env.gen, evs, store, log, nTicks) + (if (growing || beyond < 10) nTicks else 0)
    ops.add(nTicks, bad)
    stats.foreach { case (ts, out) =>
      out("paced.backlog_max_events") = if (backlog.isEmpty) 0.0 else backlog.max.toDouble
      out("paced.generator_late_ms_max") = lateMax.toDouble
      val ids = measured.map(_._3.batchId).toSet
      out("spark.jobs_per_batch") = median(ids.toSeq.map(ts.jobsByBatch(_).toDouble))
      out("spark.tasks_per_batch") = median(ids.toSeq.map(ts.tasksByBatch(_).toDouble))
    }
    val sorted = samples.sorted.toSeq
    (pct(sorted, 0.50), pct(sorted, 0.99), measured.map(_._3).toSeq)
  }

  /** Repeated `forgetTributes` calls over disjoint victim sets until the
    * budget is spent (at least two); returns the median call in s. */
  def erase(env: Env, ops: Ops, budgetS: Double, stats: Option[(TaskStats, mutable.Map[String, Double])]): Double = {
    val known = env.eraseEvents.filter(env.gen.isKnown)
    val groups = new Random(env.eraseEvents.size).shuffle(known.map(_.tribute).distinct.sorted)
      .grouped(EraseVictimsPerCall).toSeq
    val times = mutable.ArrayBuffer.empty[Double]
    var jobs, read, deleted = 0L
    var spent = 0.0
    val it = groups.iterator
    while (it.hasNext && (times.size < 2 || spent < budgetS)) {
      val victims = it.next()
      val expected = known.count(e => victims.contains(e.tribute)).toLong
      stats.foreach(_._1.reset())
      val t0 = System.nanoTime()
      val ok = try {
        val audit = TributePipeline.forgetTributes(env.spark, victims, env.eraseStore,
          env.eraseLog.toString).collect()
        val dt = (System.nanoTime() - t0) / 1e9
        times += dt; spent += dt
        val got = audit.map(_.getAs[Long]("log_files_deleted")).sum
        deleted += got
        got == expected && audit.length == victims.size && audit.forall(r =>
          r.getAs[Boolean]("state_evicted") && !r.getAs[Boolean]("residual_state") &&
            r.getAs[Long]("residual_log") == 0L)
      } catch { case e: Exception => fail("erase", e); false }
      stats.foreach { case (ts, _) =>
        PerfbenchBus.drain(env.spark.sparkContext)
        ts.synchronized { jobs += ts.jobs; read += ts.recordsRead }
      }
      if (!ok) System.err.println(s"[perfbench] erase check failed for ${victims.mkString(",")}")
      ops.add(1, if (ok) 0 else 1)
    }
    stats.foreach { case (_, out) =>
      out("erase.jobs") = jobs.toDouble / times.size
      out("erase.records_read") = read.toDouble / times.size
      out("erase.deleted") = deleted.toDouble / times.size
      out("erase.useful_ratio") = if (read == 0) 0.0 else deleted.toDouble / read
    }
    median(times.toSeq)
  }

  def batchFns: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    BatchQueries.map(p => all.find(_._1.startsWith(p + "_")).get)
  }

  /** Passes over the query set until the budget is spent
    * (at least one). Each pass starts from an empty derived-artifact root, so
    * builds run inside it. A query is timed to the end of `collect()`; the
    * output hash is computed from the collected rows afterwards, untimed,
    * and checked against the pin. Returns the median pass total and geomean
    * (s) and the per-query times of the last pass. */
  def batch(env: Env, root: Path, ops: Ops, budgetS: Double,
      stats: Option[(TaskStats, mutable.Map[String, Double])]): (Double, Double, Map[String, Double]) = {
    val spark = env.spark
    val dir = root.resolve(BatchData).toString
    val pins = new ObjectMapper().readTree(root.resolve(Pins).toFile)
    val totals, geos = mutable.ArrayBuffer.empty[Double]
    var last = Map.empty[String, Double]
    var spent = 0.0
    var pass = 0
    val perQuery = mutable.Map.empty[String, Map[String, Double]]
    var buildS, builds = 0.0
    // untimed: one footer read and tiny scan per table, as graft.Bench does,
    // so the first query of a pass is not charged for the readers' start-up
    Files.list(root.resolve(BatchData)).iterator().asScala.toSeq.sortBy(_.toString).foreach { t =>
      spark.read.parquet(t.toString).limit(1000).count()
    }
    while (pass < 1 || spent < budgetS) {
      Derived.clearRoot(spark)
      val times = mutable.LinkedHashMap.empty[String, Double]
      batchFns.foreach { case (name, fn) =>
        val before = Derived.buildSeconds
        stats.foreach(_._1.reset())
        val scope = Caches.open()
        val t0 = System.nanoTime()
        val out =
          try { val df = fn(spark, dir); Some((df.columns, df.collect())) }
          catch { case e: Exception => fail(name, e); None }
        val dt = (System.nanoTime() - t0) / 1e9
        scope.release()
        spark.catalog.clearCache()
        val h = out.map { case (cols, rows) => hash(cols, rows) }
        val pin = Option(pins.get(name)).map(_.asText())
        if (h.nonEmpty && h != pin)
          System.err.println(s"[perfbench] $name output hash ${h.get} != pin ${pin.getOrElse("-")}")
        ops.add(1, if (h.nonEmpty && h == pin) 0 else 1)
        times(name) = dt
        val built = Derived.buildSeconds.filter { case (k, v) => !before.get(k).contains(v) }
        stats.foreach { case (ts, _) =>
          PerfbenchBus.drain(spark.sparkContext)
          perQuery(name) = ts.synchronized(Map(
            "stages" -> ts.stages.toDouble, "tasks" -> ts.tasks.toDouble,
            "executor_run_s" -> ts.runMs / 1e3, "executor_cpu_s" -> ts.cpuNs / 1e9,
            "gc_s" -> ts.gcMs / 1e3, "shuffle_read_mb" -> ts.shuffleRead / 1048576.0,
            "shuffle_write_mb" -> ts.shuffleWrite / 1048576.0, "spill_mb" -> ts.spill / 1048576.0,
            "sched_overhead_s" -> (dt - ts.runMs / 1e3 / Cores)))
          buildS += built.values.sum; builds += built.size
        }
        System.gc()
      }
      totals += times.values.sum
      geos += math.exp(times.values.map(math.log).sum / times.size)
      spent += times.values.sum
      last = times.toMap
      pass += 1
      println("# batch pass " + times.toSeq.sortBy(-_._2).map { case (q, t) => f"${q.takeWhile(_ != '_')}=$t%.2f" }.mkString(" "))
    }
    stats.foreach { case (_, out) =>
      Seq("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_mb",
        "shuffle_write_mb", "spill_mb", "sched_overhead_s").foreach { k =>
        out(s"spark.$k") = perQuery.values.map(_(k)).sum
      }
      out("derived.build_s") = buildS
      out("derived.builds") = builds
      last.foreach { case (q, t) => out(s"query.${q.takeWhile(_ != '_')}_s") = t }
      perQuery.toSeq.sortBy(_._1).foreach { case (q, m) =>
        println(s"# layers $q " + m.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
      }
    }
    (median(totals.toSeq), median(geos.toSeq), last)
  }

  /** Order-independent SHA-256 of a query's output, prefixed by its row
    * count: columns sorted by name, rows rendered and sorted. */
  def hash(columns: Array[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => value(r.get(i))).mkString("\u001f")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns(_)).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    lines.foreach(l => md.update(("\n" + l).getBytes(StandardCharsets.UTF_8)))
    s"${rows.length}:" + md.digest().map(b => f"$b%02x").mkString
  }

  private def value(v: Any): String = v match {
    case null => "NULL"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }

  // ---------------------------------------------------------------- traced run

  /** Per-layer split. The bulk input is replayed through the public layer
    * calls in `processBatch` order, once plainly and once with spans, counts
    * and listeners, which gives the tracing overhead; the other phases run
    * with listeners; the bulk drain repeats at one core for the scaling
    * baseline. */
  def traced(root: Path, work: Path, gen: Gen, ops: Ops, seconds: Double,
      out: mutable.LinkedHashMap[String, (Double, String)], traceOut: Path): Unit = {
    val env = setup(root, work.resolve("s0"), gen, Cores)
    val spark = env.spark
    val ts = new TaskStats
    val layer = mutable.Map.empty[String, Double]
    val tracer = new Tracer

    // a first drain warms the JIT, so the plain and traced replays and the
    // 4-core drain compare at similar warmth with the 1-core drain at the end
    bulk(env, ops, "warm", allParts)
    val plain = replay(env, ops, "plain", None)
    spark.sparkContext.addSparkListener(ts)
    val tracedS = replay(env, ops, "traced", Some(tracer))
    val eps4 = rate(bulk(env, ops, "bulk4", allParts))
    Seq("sources.decode" -> "sources.decode_ms", "ops.enrich" -> "ops.enrich_ms",
      "pipeline.eventlog" -> "pipeline.eventlog_ms", "pipeline.lww" -> "pipeline.lww_ms",
      "pipeline.kv_upsert" -> "pipeline.kv_upsert_ms").foreach { case (s, m) => layer(m) = tracer.totalMs(s) }
    layer("sources.rows") = tracer.count("sources.decode", "rows").toDouble
    layer("ops.rows_in") = tracer.count("ops.enrich", "rows_in").toDouble
    layer("ops.rows_out") = tracer.count("ops.enrich", "rows_out").toDouble
    layer("pipeline.eventlog_objects") = tracer.count("pipeline.eventlog", "objects").toDouble
    layer("pipeline.lww_rows_in") = tracer.count("pipeline.lww", "rows_in").toDouble
    layer("pipeline.lww_rows_out") = tracer.count("pipeline.lww", "rows_out").toDouble
    layer("pipeline.kv_puts") = tracer.count("pipeline.kv_upsert", "puts").toDouble

    ts.reset()
    val (_, _, progress) = paced(env, ops, (seconds * PacedShare * 1000).toInt, Some((ts, layer)))
    PerfbenchBus.drain(spark.sparkContext)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    Seq("triggerExecution" -> "trigger", "addBatch" -> "addBatch", "queryPlanning" -> "queryPlanning",
      "latestOffset" -> "latestOffset", "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets")
      .foreach { case (k, m) => layer(s"engine.${m}_ms_p50") = median(progress.map(dur(_, k))) }
    layer("engine.rows_per_batch_p50") = median(progress.map(_.numInputRows.toDouble))

    erase(env, ops, seconds * EraseShare, Some((ts, layer)))
    batch(env, root, ops, 0, Some((ts, layer)))
    spark.stop()

    val one = setup(root, work.resolve("s1"), gen, 1)
    val eps1 = rate(bulk(one, ops, "bulk1", allParts))
    one.spark.stop()
    layer("scaling.events_per_s_1core") = eps1
    layer("scaling.speedup") = eps4 / eps1
    layer("trace.overhead_pct") = (tracedS - plain) / plain * 100
    println(s"# replay plain ${plain}s traced ${tracedS}s")

    tracer.write(traceOut)
    layer.toSeq.sortBy(_._1).foreach { case (k, v) => out(k) = (v, unit(k)) }
  }

  private def unit(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_pct")) "%"
    else if (k.endsWith("_ratio") || k.endsWith("speedup")) "ratio"
    else if (k.endsWith("events_per_s_1core")) "events/s"
    else "count"

  /** The bulk files through the layer calls `processBatch` makes, one file
    * per batch; with a tracer each layer is materialised in its own span.
    * Returns wall seconds. */
  def replay(env: Env, ops: Ops, tag: String, tracer: Option[Tracer]): Double = {
    val spark = env.spark
    val store = s"file:${env.work.resolve(s"kv-$tag")}"
    val log = env.work.resolve(s"log-$tag").toString
    val seq = TributePipeline.ArrivalSeqCol
    val files = env.bulkParts.flatMap { case (dir, _) =>
      Files.list(dir).iterator().asScala.map(_.toString).toSeq.sorted
    }
    val t0 = System.nanoTime()
    files.foreach { f =>
      tracer match {
        case None =>
          val stamped = Sources.eventBatch(spark, f).withColumn(seq, monotonically_increasing_id())
          val enriched = Status.enrich(stamped, env.tributes, env.games).persist()
          TributePipeline.appendEventLog(enriched.drop(seq), log)
          TributePipeline.upsertState(TributePipeline.latestStatePerTribute(enriched, col(seq)), store)
          enriched.unpersist()
        case Some(t) => t.span("batch") { root =>
          val stamped = t.span("sources.decode", root) { _ =>
            val d = Sources.eventBatch(spark, f).withColumn(seq, monotonically_increasing_id()).persist()
            (d, Map("rows" -> d.count()))
          }
          val enriched = t.span("ops.enrich", root) { _ =>
            val e = Status.enrich(stamped, env.tributes, env.games).persist()
            (e, Map("rows_in" -> stamped.count(), "rows_out" -> e.count()))
          }
          val n = enriched.count()
          t.span("pipeline.eventlog", root) { _ =>
            (TributePipeline.appendEventLog(enriched.drop(seq), log), Map("objects" -> n))
          }
          val state = t.span("pipeline.lww", root) { _ =>
            val s = TributePipeline.latestStatePerTribute(enriched, col(seq)).persist()
            (s, Map("rows_in" -> n, "rows_out" -> s.count()))
          }
          t.span("pipeline.kv_upsert", root) { _ =>
            (TributePipeline.upsertState(state, store), Map("puts" -> state.count()))
          }
          state.unpersist(); enriched.unpersist(); stamped.unpersist()
          ((), Map.empty)
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ops.add(env.bulkEvents.size, checkStream(env.gen, env.bulkEvents, store, Paths.get(log), files.size))
    wall
  }

  // ---------------------------------------------------------------- helpers

  def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: ${e.getMessage}")

  def median(xs: Seq[Double]): Double = pct(xs.sorted, 0.5)

  /** Nearest-rank percentile of sorted values. */
  def pct(sorted: Seq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.max(0, math.ceil(p * sorted.size).toInt - 1))

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
