package graft.perfbench

import java.io.{File, PrintWriter}
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.PerfbenchBus

import graft.queries.Catalog
import graft.sources.{ManifestStore => M}

/** The benchmark's JVM side. `perfbench/run.py` builds the classes and
  * starts this main with the run's scratch directory; see
  * perfbench/README.md for the workloads and metrics.
  *
  * {{{
  *   Main --workload llm_curate|table_rw --seed N --seconds S --trace 0|1
  *        --data DIR --scratch DIR --expected FILE --launch-ms EPOCH_MS
  *   Main --record FILE --data DIR --scratch DIR
  * }}}
  */
object Main {
  /** Setups per run; setup_s reports their median. */
  val SetupReps = 3
  /** Untimed warm-up passes (decks on `table_rw`) before the measured
    * phase, so the JIT has compiled the hot paths of every op kind. One
    * `llm_curate` pass takes about as long as two decks. Its later passes
    * keep getting a little cheaper while the JIT compiles the code Spark
    * generates, so no pass is a steady state; but every run measures the
    * same passes, and a second warm-up pass would leave no room in the run
    * budget for a third measured one.
    */
  def warmRounds(workload: String): Int = if (workload == "table_rw") 2 else 1
  /** Ops a measured phase runs at least: on `table_rw` five decks, so the
    * p90 has ten samples beyond it; on `llm_curate`, whose entries take up
    * to three seconds, three passes, which leave six samples beyond the
    * p90: more do not fit the run budget.
    */
  def minOps(workload: String): Int = workload match {
    case "table_rw" => 5 * RwGen.Deck
    case _ => 3 * CatalogWorkload.Entries.size
  }

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        if (opts.contains("record")) { record(opts); 0 }
        else run(opts, entryMs)
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] aborted: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def run(opts: Map[String, String], entryMs: Long): Int = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val jvmS = (entryMs - opts("launch-ms").toLong) / 1e3
    val host = new Host
    val ctx = new Ctx(Runtime.getRuntime.availableProcessors, opts("data"), opts("scratch"))
    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=${ctx.cores}")

    val catalog = workload match {
      case "llm_curate" => Some(new CatalogWorkload(Expected.load(opts("expected"))))
      case "table_rw" => None
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rw = if (catalog.isEmpty) Some(new TableRw(seed)) else None

    // set-up: session creation (and the table's initial load) repeated,
    // then the untimed warm-up
    val sessionS = (1 to SetupReps).map { _ =>
      val t0 = Clock.nowMs
      ctx.newSession()
      rw.foreach(_.prepare(ctx))
      (Clock.nowMs - t0) / 1e3
    }
    ctx.phase = "warm"
    val warmS = timed {
      catalog.foreach(c => (0 until warmRounds(workload)).foreach(c.pass(ctx, seed, _)))
      rw.foreach(w => runDecks(ctx, w, warmRounds(workload) * RwGen.Deck, 0))
    }
    val setupS = jvmS + Stats.median(sessionS) + warmS

    var nextPass = warmRounds(workload)
    def measure(phase: String): (Seq[OpResult], Double, Double) = {
      ctx.phase = phase
      val before = ctx.results.size
      val elapsed = timed {
        catalog.foreach(c => nextPass = c.measure(ctx, seed, nextPass, seconds, minOps(workload)))
        rw.foreach(w => runDecks(ctx, w, minOps(workload), seconds))
      }
      (ctx.results.drop(before).toSeq, elapsed, heapRetainedMb())
    }

    val jvm0 = JvmWork.now()
    val (ops, elapsed, heapMb) = measure("measure")
    val jvmWork = JvmWork.now() - jvm0
    val e2e = Summary.endToEnd(ops, elapsed)
    e2e("heap_retained_mb") = Metric(heapMb, "MB")
    e2e("setup_s") = Metric(setupS, "s")

    val layers = mutable.LinkedHashMap.empty[String, Metric]
    val retries0 = M.commitRetries.sum()
    if (trace) {
      val l = new RunListener
      val sc = ctx.spark.sparkContext
      sc.addSparkListener(l)
      ctx.spark.listenerManager.register(l)
      // the traced phase repeats the measured one: the same passes, or the
      // same op stream on a new table after its own warm-up decks
      nextPass = warmRounds(workload)
      rw.foreach { w =>
        ctx.phase = "warm"
        w.prepare(ctx)
        runDecks(ctx, w, warmRounds(workload) * RwGen.Deck, 0)
        w.primeTracking(ctx.spark)
      }
      ctx.tracer.enabled = true
      val tjvm0 = JvmWork.now()
      val (tops, telapsed, theap) = measure("traced")
      val tjvm = JvmWork.now() - tjvm0
      ctx.tracer.enabled = false
      PerfbenchBus.drain(sc)
      ctx.spark.listenerManager.unregister(l)
      sc.removeSparkListener(l)
      val spans = ctx.tracer.spans.toSeq
      layers ++= Summary.perLayer(tops, l, spans)
      layers("jvm.jit_s") = Metric(tjvm.jitS / tops.size, "s/op")
      val te2e = Summary.endToEnd(tops, telapsed)
      te2e("heap_retained_mb") = Metric(theap, "MB")
      for ((k, m) <- te2e) layers(s"trace_overhead.$k") = Metric(m.value - e2e(k).value, m.unit)
      layers("setup.jvm_s") = Metric(jvmS, "s")
      layers("setup.session_s") = Metric(Stats.median(sessionS), "s")
      layers("setup.warm_s") = Metric(warmS, "s")
      writeLines(s"${ctx.scratch}/trace.jsonl", Summary.traceLines(spans, l))
    }

    // final checks, outside every timed phase
    ctx.phase = "final"
    val extra = mutable.LinkedHashMap.empty[String, Metric]
    var counters = Seq("commit_retries" -> 0.0, "versions" -> 0.0, "live_files" -> 0.0,
      "dv_files" -> 0.0, "log_bytes" -> 0.0, "write_amp" -> 0.0)
    rw.foreach { w =>
      var live: Array[org.apache.spark.sql.Row] = Array.empty
      ctx.op("final_read", "final", write = false) { live = w.finalRead(ctx); () => () }
      extra ++= Summary.readWrite(ops)
      extra("space_amp") = Metric(w.spaceAmp(ctx, live), "ratio")
      val snap = M.latestSnapshot(ctx.spark, w.root).get
      counters = Seq(
        "commit_retries" -> (M.commitRetries.sum() - retries0).toDouble,
        "versions" -> snap.version.toDouble,
        "live_files" -> snap.files.size.toDouble,
        "dv_files" -> snap.files.count(_.dv.isDefined).toDouble,
        "log_bytes" -> w.logBytes(ctx.spark).toDouble,
        "write_amp" -> w.bytesWritten / math.max(1.0, w.rowsChanged * w.liveBytesPerRow(ctx, live)))
    }
    catalog.foreach(_ => dropTables(ctx))
    if (trace) for ((k, v) <- counters)
      layers(s"sources.$k") = Metric(v, if (k.endsWith("bytes")) "B" else if (k == "write_amp") "ratio" else "count")

    val failed = ctx.results.filter(!_.ok)
    val attempted = ctx.results.size
    extra("fail_frac") = Metric(failed.size.toDouble / attempted, "frac")
    ctx.spark.stop()
    writeLines(s"${ctx.scratch}/ops.jsonl", Summary.opLines(ctx.results.toSeq))

    println(s"[perfbench] host ${host.json()}")
    println(s"[perfbench] samples: ${ops.size} measured ops in ${fmt(elapsed)} s " +
      s"(${ops.map(_.kind).distinct.size} distinct), ${attempted} ops checked; " +
      s"JIT ${fmt(jvmWork.jitS)} s, GC ${fmt(jvmWork.gcS)} s in ${jvmWork.gcs} collections " +
      "during the measured phase")
    for ((k, m) <- e2e ++ extra) println(f"[perfbench] $k%-18s ${fmt(m.value)} ${m.unit}")
    if (trace) for ((k, m) <- layers) println(f"[perfbench] $k%-36s ${fmt(m.value)} ${m.unit}")
    for ((kind, fs) <- failed.groupBy(_.kind); f <- fs.take(3))
      println(s"[perfbench] FAILED $kind (${fs.size}x): ${f.error.get}")

    val metrics = if (trace) layers else e2e
    println(Json.obj(Seq(
      "correct" -> failed.isEmpty.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.size.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, m) =>
        k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
      }))))
    0
  }

  /** Whole decks of `table_rw` ops until at least `minOps` deck ops ran
    * and `minSeconds` passed, so every run sees the same mix of kinds.
    */
  private def runDecks(ctx: Ctx, w: TableRw, minOps: Int, minSeconds: Double): Unit = {
    val t0 = Clock.nowMs
    var n = 0
    while (n < minOps || (Clock.nowMs - t0) / 1e3 < minSeconds || !w.deckDone) {
      val op = w.nextOp()
      w.run(ctx, op)
      if (op.inDeck) n += 1
    }
  }

  private def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.6g", Double.box(d))

  private def timed(body: => Unit): Double = {
    val t0 = Clock.nowMs
    body
    (Clock.nowMs - t0) / 1e3
  }

  /** Used heap after forced collections, in MiB: the least of a few
    * rounds, since Spark's cleaner frees broadcast and shuffle state
    * asynchronously after the collection that finds it unreachable.
    */
  def heapRetainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Drop the managed tables the catalog entries created (band indexes). */
  private def dropTables(ctx: Ctx): Unit = {
    val spark = ctx.spark
    spark.catalog.listTables().collect().filter(_.tableType == "MANAGED")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
  }

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** Record the expected fingerprint of every catalog entry `llm_curate`
    * runs: three passes over them, in two orders and two sessions. An entry
    * keeps its row hash only if it has an oracle (it is neither seeded nor
    * trained) and all three passes agree; its row count only if they agree.
    */
  private def record(opts: Map[String, String]): Unit = {
    val ctx = new Ctx(Runtime.getRuntime.availableProcessors, opts("data"), opts("scratch"))
    val entries = CatalogWorkload.Entries.map(Catalog.byName)
    val seen = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Fingerprint]]
    for (pass <- 1 to 3) {
      if (pass != 2) ctx.newSession()
      for (n <- CatalogWorkload.passOrder(entries.map(_.name), pass, 0)) {
        val q = entries.find(_.name == n).get
        val df = q.run(ctx.spark, ctx.dataDir)
        val fp = Fingerprint.of(df.schema, df.collect())
        graft.operators.Pinned.release()
        ctx.spark.catalog.clearCache()
        seen.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += fp
      }
    }
    val lines = seen.toSeq.sortBy(_._1).map { case (n, fps) =>
      val q = entries.find(_.name == n).get
      val rows = if (fps.map(_.rows).distinct.size == 1) fps.head.rows else -1L
      val hash = if (q.oracle.isDefined && fps.map(_.hash).distinct.size == 1) fps.head.hashHex else "-"
      require(fps.map(_.schema).distinct.size == 1, s"$n: schema differs between passes")
      s"$n\t$rows\t$hash\t${fps.head.schema}"
    }
    Files.write(new File(opts("record")).toPath,
      (("# entry\trows\trow_hash\tschema" +: lines).mkString("\n") + "\n").getBytes("UTF-8"))
    ctx.spark.stop()
    println(s"[perfbench] recorded ${lines.size} entries to ${opts("record")}")
  }
}

/** JIT compile time and garbage-collection time and count of this JVM,
  * so a run can tell how much of its measured phase the JVM itself took.
  */
final case class JvmWork(jitS: Double, gcS: Double, gcs: Long) {
  def -(o: JvmWork): JvmWork = JvmWork(jitS - o.jitS, gcS - o.gcS, gcs - o.gcs)
}

object JvmWork {
  def now(): JvmWork = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    JvmWork(ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
      gcs.map(_.getCollectionTime).sum / 1e3, gcs.map(_.getCollectionCount).sum)
  }
}
