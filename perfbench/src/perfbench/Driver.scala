package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import graft.SparkEntry
import graft.ord.{OrdApi, OrdFixtures}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One benchmark operation: a call into a graft module that returns the
  * DataFrame to plan and materialize (or nothing, for a driver-side
  * sink). `name` is the SparkEntry key, or the OrdApi mode. */
final case class Op(name: String, layer: String, kind: String,
    call: SparkSession => Option[DataFrame], params: Map[String, Any] = Map.empty)

/** The benchmark's driver JVM.
  *
  * `mode=ord` writes the seeded ORD corpus. `mode=run` runs one workload:
  * it sets up (session, staging, warm-up), then runs the workload's op
  * sequence in a closed loop for the requested seconds and writes every
  * measurement to `out/results.json`. Outputs are dumped for checking,
  * and caches released, outside the timed windows. With
  * `trace=1` the second half of the loop runs with the benchmark's
  * listeners attached and its spans are written to `out/spans.json`.
  */
object Driver {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    a("mode") match {
      case "ord" =>
        val s = newSession(a)
        OrdCorpus.write(s, a("dir"), a("seed").toLong, a("datasets").toInt)
        s.stop()
      case "run" => new Run(a).run()
    }
  }

  def newSession(a: Map[String, String]): SparkSession = {
    val cores = a("cores")
    val s = GraftSession.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a("local"))
      .config("spark.sql.warehouse.dir", a("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nowMs: Double = System.currentTimeMillis().toDouble + (System.nanoTime() % 1000000L) / 1e6

  def loadavg(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  }.getOrElse(-1.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
    finally st.close()
  }

  def toJson(v: Any): com.fasterxml.jackson.databind.JsonNode = v match {
    case m: Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[ObjectNode](k.toString, toJson(x)) }
      o
    case s: Seq[_] =>
      val arr = mapper.createArrayNode(); s.foreach(x => arr.add(toJson(x))); arr
    case d: Double => mapper.getNodeFactory.numberNode(d)
    case i: Int => mapper.getNodeFactory.numberNode(i)
    case l: Long => mapper.getNodeFactory.numberNode(l)
    case b: Boolean => mapper.getNodeFactory.booleanNode(b)
    case null => mapper.getNodeFactory.nullNode()
    case x => mapper.getNodeFactory.textNode(x.toString)
  }
}

final class Run(a: Map[String, String]) {
  import Driver._

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val data = a("data")
  private val out = a("out")
  private val ckpt = a("ckpt")
  private val rng = new Random(seed)
  private var spark: SparkSession = _

  private val OrdKeys = Seq("ord_envelope_check", "ord_f1_tabs", "ord_components",
    "ord_id_types", "ord_roles_histogram", "ord_j1_role_encode", "ord_amount_stats",
    "ord_f5_measurements", "ord_s4_decode", "ord_a4_renest", "ord_s6_sink",
    "ord_s6b_raw_sink", "ord_v1_downgrade", "ord_units_diverge")
  private val Reads = Seq(
    "e2v_ivf_serve" -> "sources.ivf", "e2pq_ivfpq_probe" -> "sources.ivf",
    "e35s_bm25_serve" -> "sources.lex", "e35q_adhoc_terms" -> "sources.lex",
    "e71_hybrid_rrf" -> "ops.retrieval")
  private val Writes = Seq(
    "e35u_lex_upsert" -> "streaming.lex", "e2u_vec_upsert" -> "streaming.vec")
  // e64_pagerank is left out: its ranks differ from its DuckDB oracle in
  // the 12th decimal on about half the seeds (the two engines sum at a
  // rounding boundary in different orders), so it cannot pass the exact
  // output check; ops.cluster stays measured through e19
  private val Curation = Seq(
    "e19_dedup_pipeline" -> "ops.cluster",
    "e70_curation_pipeline" -> "ops.curation", "e48c_bpe_delta" -> "ops.curation",
    "e6s_minhash_stream" -> "streaming.doc")

  private def keyOp(key: String, layer: String, kind: String): Op =
    Op(key, layer, kind, s => Some(SparkEntry.queries(key)(s, data)))

  /** The five `OrdApi` modes and `saveFormatted`, with seeded arguments. */
  private def apiOps(): Seq[Op] = {
    val ds = OrdCorpus.datasets(seed, a("ord_datasets").toInt)
    val corpus = OrdCorpus.Files5(rng.nextInt(OrdCorpus.Files5.size))
    val inFile = ds.filter(_.file == corpus)
    val full = rng.shuffle(inFile.filter(_.reactions.nonEmpty))
    val nFile = inFile.size
    val ids = full.take(3).map(_.dataset_id)
    val lo = 1 + rng.nextInt(math.max(1, nFile - 10))
    val (rxLo, rxHi) = (1 + rng.nextInt(3), 3 + rng.nextInt(5))
    val ranges = full.slice(3, 6)
      .map(d => d.dataset_id -> (1 + rng.nextInt(2), 2 + rng.nextInt(6))).toMap
    val target = full(6)
    val rxIdx = 1 + rng.nextInt(target.reactions.size)
    val saveIds = full.slice(7, 12).map(_.dataset_id)
    val sc = Some(corpus)
    Seq(
      Op("api_all", "ord", "query", s => Some(OrdApi.allReactions(s))),
      Op("api_specific", "ord", "query",
        s => Some(OrdApi.specificDatasets(s, ids, sc)), Map("corpus" -> corpus, "ids" -> ids)),
      Op("api_uniform", "ord", "query",
        s => Some(OrdApi.uniformRange(s, lo, lo + 9, rxLo, rxHi, sc)),
        Map("corpus" -> corpus, "ds" -> Seq(lo, lo + 9), "rx" -> Seq(rxLo, rxHi))),
      Op("api_custom", "ord", "query",
        s => Some(OrdApi.customRanges(s, ranges, sc)),
        Map("corpus" -> corpus, "ranges" -> ranges.map { case (k, (x, y)) => k -> Seq(x, y) })),
      Op("api_single", "ord", "query",
        s => Some(OrdApi.singleTarget(s, target.dataset_id, rxIdx, sc)),
        Map("corpus" -> corpus, "id" -> target.dataset_id, "rx" -> rxIdx)),
      Op("api_save", "ord", "sink",
        s => { OrdApi.saveFormatted(s, s"$out/save.json", sc, saveIds); None },
        Map("corpus" -> corpus, "ids" -> saveIds)))
  }

  /** Each workload's distinct ops and its seeded closed-loop order. */
  private lazy val (distinct: Seq[Op], schedule: Iterator[Seq[Op]]) = workload match {
    case "ord_etl" =>
      val ops = OrdKeys.map(keyOp(_, "ord", "query")) ++ apiOps()
      (ops, Iterator.continually(rng.shuffle(ops)))
    case "corpus_rw" =>
      val reads = Reads.map { case (k, l) => keyOp(k, l, "read") }
      val writes = Writes.map { case (k, l) => keyOp(k, l, "write") }
      val pipelines = Curation.map { case (k, l) => keyOp(k, l, "pipeline") }
      val every = a("reads_per_write").toInt
      // a cycle issues every read twice and every other op once, in seeded
      // order: each fold write follows `every` reads, and the curation
      // pipelines fall between. Reads are most of a cycle's calls, as
      // they are of an index's traffic.
      (reads ++ writes ++ pipelines, Iterator.continually {
        val served = rng.shuffle(reads ++ reads).grouped(every).toSeq
          .zipAll(rng.shuffle(writes), Nil, null).map { case (g, w) => g ++ Option(w) }
        rng.shuffle(served ++ pipelines.map(Seq(_))).flatten
      })
  }

  // ------------------------------------------------------------ hygiene

  /** What `graft.Bench` does between queries, outside any timed window. */
  private def release(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val root = Paths.get(ckpt)
    if (Files.isDirectory(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toList
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))
        .foreach(deleteTree)
      finally st.close()
    }
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private val heapSamples = scala.collection.mutable.ArrayBuffer[Double]()
  private var forcedGcMs = 0L
  /** Heap in use after full collections; their own time is kept out of
    * `jvm.gc_s`. */
  private def sampleHeap(): Unit = {
    val g0 = gcMs()
    // the second collection frees what the ContextCleaner released after
    // the first one
    System.gc()
    Thread.sleep(200)
    System.gc()
    forcedGcMs += gcMs() - g0
    heapSamples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  // -------------------------------------------------------------- setup

  /** Staging through the modules' public `ensure` functions. */
  private def stage(): Map[String, Double] = {
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    workload match {
      case "ord_etl" => Map("ord.ensure_s" -> timed(OrdFixtures.ensure(spark)))
      case "corpus_rw" => Map(
        "sources.ivf.ensure_s" -> timed(graft.sources.IvfServe.ensure(spark, data)),
        "sources.lex.ensure_s" -> timed(graft.sources.LexIndex.ensure(spark, data)))
    }
  }

  /** Set-up, from process launch to the first timed op: JVM start, the
    * session, staging into the empty fixture dir, and one warm-up call of
    * every op (whose first calls stage the fold bases). The warm-up
    * outputs are dumped for the checks; dumping is kept out of `setup_s`. */
  private def setup(launchMs: Double): Map[String, Any] = {
    val s0 = nowMs
    spark = newSession(a)
    spark.sparkContext.setCheckpointDir(ckpt)
    val sessionS = (nowMs - s0) / 1e3
    val ensure = stage()
    var dumpMs = 0.0
    val warm = distinct.map { op =>
      release()
      val (rec, df) = runOp(op)
      val d0 = nowMs
      try df.foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$out/dump/${op.name}"))
      catch { case e: Throwable => System.err.println(s"[perfbench] dump ${op.name}: $e") }
      dumpMs += nowMs - d0
      op.name -> rec
    }
    release()
    Map("setup_s" -> (nowMs - launchMs - dumpMs) / 1e3, "session.start_s" -> sessionS,
      "warm" -> warm.toMap) ++ ensure
  }

  // ----------------------------------------------------------- timed op

  /** Runs one op: (timings, the DataFrame for the output check). */
  private def runOp(op: Op, group: String = null): (Map[String, Any], Option[DataFrame]) = {
    val sc = spark.sparkContext
    if (group != null) sc.setJobGroup(group, s"$workload/${op.name}", interruptOnCancel = false)
    val t0 = nowMs
    var t1, t2, t3 = t0
    var err: String = null
    var df: Option[DataFrame] = None
    var phases = Map.empty[String, Seq[Long]]
    try {
      df = op.call(spark); t1 = nowMs
      df.foreach { d =>
        val qe = d.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
        qe.executedPlan
        t2 = nowMs
        phases = qe.tracker.phases.map { case (k, p) => k -> Seq(p.startTimeMs, p.endTimeMs) }
        d.write.format("noop").mode("overwrite").save()
      }
      t2 = math.max(t2, t1); t3 = nowMs
    } catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      t3 = nowMs
    } finally if (group != null) sc.clearJobGroup()
    (Map("op" -> op.name, "layer" -> op.layer, "kind" -> op.kind,
      "start_ms" -> t0, "end_ms" -> t3, "wall_s" -> (t3 - t0) / 1e3,
      "fn_s" -> (t1 - t0) / 1e3, "plan_s" -> (t2 - t1) / 1e3, "exec_s" -> (t3 - t2) / 1e3,
      "ok" -> (err == null), "error" -> err, "phases" -> phases), df)
  }

  // ---------------------------------------------------------------- run

  def run(): Unit = {
    val launchMs = a("launch_ms").toDouble
    val loadStart = loadavg()
    Files.createDirectories(Paths.get(out))
    val setupRec = setup(launchMs)

    val trace = new Trace
    val spans = new Spans
    val records = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    val gc0 = gcMs(); forcedGcMs = 0L
    sampleHeap()
    val loopStart = nowMs
    var seq = 0
    var pass = 0
    var tracedStart = loopStart
    /** Whole passes (corpus_rw: cycles) of the op mix until `budgetS` has
      * passed; a pass that starts runs to its end. */
    def loop(budgetS: Double, tracing: Boolean): Unit = {
      val t0 = nowMs
      while ((nowMs - t0) / 1e3 < budgetS) {
        pass += 1
        for (op <- schedule.next()) {
          release()
          seq += 1
          records += runOp(op, s"op-$seq")._1 ++
            Map("seq" -> seq, "pass" -> pass, "traced" -> tracing)
        }
        release()
        sampleHeap()
      }
    }
    if (!traced) loop(seconds, tracing = false)
    else {
      // half the time untraced, half traced: the tracing overhead is read
      // within one process, on one seed
      loop(seconds / 2, tracing = false)
      tracedStart = nowMs
      spark.sparkContext.addSparkListener(trace)
      spark.streams.addListener(trace.streams)
      loop(seconds / 2, tracing = true)
    }
    val loopS = (nowMs - loopStart) / 1e3
    release()
    sampleHeap()
    val gcS = (gcMs() - gc0 - forcedGcMs) / 1e3

    // per-op counters and spans from the traced half
    val counters: Map[String, OpCounters] = if (!traced) Map.empty else {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      trace.attribute(records.filter(_("traced") == true).map(r =>
        s"op-${r("seq")}" -> (r("start_ms").asInstanceOf[Double].toLong,
          r("end_ms").asInstanceOf[Double].toLong + 1)).toMap)
    }
    val root = spans.add(0, "run", tracedStart, loopStart + loopS * 1e3,
      Map("workload" -> workload, "seed" -> seed))
    val ops = records.map { r =>
      val c = counters.get(s"op-${r("seq")}")
      c.fold(r) { c =>
        val (s0, s3) = (r("start_ms").asInstanceOf[Double], r("end_ms").asInstanceOf[Double])
        val s1 = s0 + r("fn_s").asInstanceOf[Double] * 1e3
        val s2 = s3 - r("exec_s").asInstanceOf[Double] * 1e3
        val opSpan = spans.add(root, "op", s0, s3,
          Map("workload" -> workload, "key" -> r("op"), "seq" -> r("seq"), "layer" -> r("layer")))
        val phaseSpans = Seq("fn" -> (s0, s1), "plan" -> (s1, s2), "exec" -> (s2, s3))
          .map { case (n, (x, y)) => (spans.add(opSpan, n, x, y), x, y) }
        def under(t: Double) = phaseSpans.find { case (_, x, y) => t >= x && t <= y }
          .map(_._1).getOrElse(opSpan)
        r("phases").asInstanceOf[Map[String, Seq[Long]]].foreach { case (n, Seq(x, y)) =>
          spans.add(phaseSpans(1)._1, s"plan.$n", x.toDouble, y.toDouble)
        }
        c.jobSpans.foreach { case (id, x, y) =>
          spans.add(under(x.toDouble), "job", x, y, Map("job_id" -> id))
        }
        c.triggerSpans.foreach { case (x, d, rows) =>
          spans.add(under(x.toDouble), "trigger", x, x + d, Map("rows_in" -> rows))
        }
        // op wall time not covered by any of its jobs: the driver-side floor
        val covered = c.jobSpans
          .map { case (_, x, y) => (math.max(x.toDouble, s0), math.min(y.toDouble, s3)) }
          .filter { case (x, y) => y > x }.sortBy(_._1)
          .foldLeft((0.0, s0)) { case ((sum, hi), (x, y)) =>
            if (y <= hi) (sum, hi) else (sum + y - math.max(x, hi), y) }._1
        r ++ Map("jobs" -> c.jobs, "tasks" -> c.tasks, "cpu_s" -> c.cpuNs / 1e9,
          "input_bytes" -> c.inputBytes, "shuffle_bytes" -> c.shuffleBytes,
          "spill_bytes" -> c.spillBytes, "result_bytes" -> c.resultBytes,
          "triggers" -> c.triggers, "busy_s" -> c.busyMs / 1e3, "rows_in" -> c.rowsIn,
          "job_gap_s" -> math.max(0.0, (s3 - s0) - covered) / 1e3)
      }
    }
    val oracle = distinct.map(_.name).filter(SparkEntry.oracleSql.contains)
      .map(k => k -> SparkEntry.oracleSql(k)).toMap
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup" -> setupRec, "ops" -> ops.toSeq, "loop_s" -> loopS,
      "heap_samples_mb" -> heapSamples.toSeq, "gc_s" -> gcS,
      "load_start" -> loadStart, "load_end" -> loadavg(),
      "dumped" -> distinct.map(o => o.name -> s"$out/dump/${o.name}").toMap,
      "oracle_sql" -> oracle,
      "params" -> distinct.filter(_.params.nonEmpty).map(o => o.name -> o.params).toMap)
    mapper.writeValue(new java.io.File(s"$out/results.json"), toJson(result))
    if (traced) mapper.writeValue(new java.io.File(s"$out/spans.json"), toJson(spans.all.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs)))
    spark.stop()
  }
}
