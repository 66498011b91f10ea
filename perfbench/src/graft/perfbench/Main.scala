package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.{GraftSession, SparkEntry}
import graft.operators.{Dedup, DupState, Ingest, Similarity, StateVersions, TextAnalysis}
import graft.sources.{Lake, Tables}
import graft.streaming.EventStream

/** The JVM half of the benchmark: runs one workload over inputs that
  * `perfbench/run.py` generated, times it, and writes raw measurements
  * (per-operation walls, spans with their Spark counters, answers to
  * check) to `<out>/result.json`. Percentiles, self times and the
  * correctness comparison are computed by `perfbench/run.py`.
  *
  *   Main <workload> <inputDir> <workDir> <outDir> <trace 0|1> <cores>
  */
object Main {
  final case class Op(kind: String, key: String, wallS: Double, ok: Boolean, traced: Boolean,
      err: String = "", extra: Map[String, Any] = Map.empty)

  /** Everything a workload reports back, filled in as it runs. */
  final class Run(val spark: SparkSession, val tracer: Tracer, val listener: SpanListener,
      val in: String, val work: String, val out: String) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    var timedStartMs = 0L
    var timedEndNs, timedStartNs = 0L
    var gcAtStart = 0L
    var rssAtEndKb = 0L

    val heap = new HeapWatch

    def startTimed(): Unit = {
      heap.start()
      timedStartMs = System.currentTimeMillis()
      timedStartNs = System.nanoTime()
      gcAtStart = gcMs
    }
    def endTimed(): Unit = {
      timedEndNs = System.nanoTime()
      extra("gc_s") = (gcMs - gcAtStart) / 1e3
      extra("timed_wall_s") = (timedEndNs - timedStartNs) / 1e9
      rssAtEndKb = vmHwmKb
      extra("alloc_mb") = heap.allocated / 1048576.0
    }
    def check(name: String, ok: Boolean, detail: Any = ""): Unit =
      checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def vmHwmKb: Long = scala.util.Using(scala.io.Source.fromFile("/proc/self/status")) { src =>
    src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }.getOrElse(-1L)

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, out, trace, cores) = args
    val spark = GraftSession.tune(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, trace == "1")
    val listener = new SpanListener(tracer)
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, tracer, listener, in, work, out)
    new java.io.File(out).mkdirs()
    workload match {
      case "lake_serve" => LakeServe(run)
      case "corpus_curate" => CorpusCurate(run)
      case "daily_cycle" => DailyCycle(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 10000L)
    val spans = tracer.spans.map { s =>
      val st = tracer.stats.get(s.id)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
        "start_ms" -> tracer.epochMs(s.startNs), "end_ms" -> tracer.epochMs(s.endNs),
        "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
        "cpu_s" -> st.cpuNs / 1e9, "task_s" -> st.runMs / 1e3,
        "shuffle_bytes" -> (st.shuffleRead + st.shuffleWrite), "spill_bytes" -> st.spill,
        "input_bytes" -> st.input, "output_bytes" -> st.output,
        "job_ms" -> st.jobTimes.toSeq.map { case (a, b) => Seq(a, b) })
    }
    Json.save(s"$out/spans.json", spans)
    Json.save(s"$out/result.json", Map(
      "workload" -> workload,
      "session_ready_ms" -> sessionReadyMs,
      "timed_start_ms" -> run.timedStartMs,
      "peak_rss_kb" -> run.rssAtEndKb,
      "ops" -> run.ops.map(o => Map("kind" -> o.kind, "key" -> o.key, "wall_s" -> o.wallS,
        "ok" -> o.ok, "traced" -> o.traced, "err" -> o.err) ++ o.extra),
      "extra" -> run.extra,
      "checks" -> run.checks,
      "tracer_self_s" -> tracer.selfNs / 1e9,
      "listener_self_s" -> listener.selfNs / 1e9,
      "unattributed_jobs" -> listener.unattributedJobs,
      "spans_file" -> "spans.json"))
    spark.stop()
  }
}

/** Bytes allocated on the heap since `start()`: what the collector freed
  * (summed from its notifications) plus the growth of the heap in use. */
final class HeapWatch {
  import java.lang.management.{ManagementFactory, MemoryType, MemoryUsage}
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var freed, used0 = 0L

  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  private def heapOf(m: java.util.Map[String, MemoryUsage]): Long =
    m.asScala.collect { case (k, u) if heapPools(k) => u.getUsed }.sum

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val g = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        synchronized { freed += heapOf(g.getMemoryUsageBeforeGc) - heapOf(g.getMemoryUsageAfterGc) }
      }, null, null)
    case _ =>
  }

  def start(): Unit = synchronized { freed = 0L; used0 = used }
  def allocated: Long = synchronized(freed) + used - used0
}

/** lake_serve: one closed-loop client sends the request sequence; each
  * request is timed from the call into the entry until every result row
  * is collected. */
object LakeServe {
  import Main._

  private val tsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** A result value as JSON-ready data: timestamps as UTC wall-clock
    * text, dates as ISO text, decimals as numbers, nested rows and
    * arrays as lists — the forms run.py maps DuckDB values to. */
  def plain(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFormat)
    case t: java.time.Instant => java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFormat)
    case t: java.time.LocalDateTime => t.format(tsFormat)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case d: scala.math.BigDecimal => d.bigDecimal
    case f: Float => f.toDouble
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case row: Row => row.toSeq.map(plain)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(plain(k), plain(x)) }
    case s: scala.collection.Seq[_] => s.map(plain)
    case other => other
  }

  /** The lightest relational entry; never in the served set. */
  val Primer = "q45_param_sql"

  /** Parquet scans of an executed plan, looking through AQE stages. */
  def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  def apply(r: Run): Unit = {
    val spark = r.spark
    val tables = s"${r.in}/tables"
    val lake = s"${r.work}/lake"
    val manifest = Json.read(s"${r.in}/manifest.json")
    val reqs = Json.elems(manifest.get("requests")).map { n =>
      (n.get("kind").asText, n.get("key").asText,
        Option(n.get("name")).map(_.asText).orNull,
        Option(n.get("start")).map(_.asText).orNull, Option(n.get("end")).map(_.asText).orNull)
    }
    val entries = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    reqs.collect { case ("entry", _, name, _, _) => name }.distinct.foreach { n =>
      require(entries.contains(n) && oracles.contains(n), s"catalog entry $n missing or has no oracle")
    }

    // set-up: the 30-day events lake, written once
    val t0 = System.nanoTime()
    Lake.write(Tables.events(spark, tables).drop("ts_ns"), lake, to_date(col("ts")))
    r.extra("lake_write_s") = secs(t0)
    val lakeFiles = org.apache.commons.io.FileUtils.listFiles(new java.io.File(lake), Array("parquet"), true).size
    r.extra("lake_files") = lakeFiles

    def call(kind: String, name: String, start: String, end: String): DataFrame =
      if (kind == "entry") entries(name)(spark, tables) else Lake.readRange(spark, lake, start, end)

    // primer, untimed: one range read and one catalog entry that is not
    // served, so the JVM's first-read and first-query costs do not land
    // on the first timed request
    call("range", null, "2024-01-01", "2024-01-01").collect()
    call("entry", Primer, null, null).collect()
    spark.catalog.clearCache()

    // one pass over the sequence, each request once. There is no
    // warm-up pass: a request is its entry's first call in this JVM after
    // the lake write, which is what an ad-hoc caller pays.
    val answers = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val tr = r.tracer
    r.startTimed()
    reqs.zipWithIndex.foreach { case ((kind, key, name, s, e), i) =>
      var df: DataFrame = null
      val tq = System.nanoTime()
      val res = try {
        val rows = tr.span("request", i.toLong) {
          df = tr.span(if (kind == "entry") "queries.call" else "sources.read_range")(call(kind, name, s, e))
          tr.span("queries.plan")(df.queryExecution.executedPlan)
          tr.span("queries.exec")(df.collect())
        }
        Right(rows)
      } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300)) }
      val wall = secs(tq)
      r.ops += (res match {
        case Right(rows) =>
          answers(key) = (rows, df.schema)
          val sc = scans(df.queryExecution.executedPlan)
          def metric(n: String) = sc.flatMap(_.metrics.get(n)).map(_.value).sum
          Op(kind, key, wall, ok = true, tr.enabled, extra = Map("rows_out" -> rows.length,
            "scan_rows" -> metric("numOutputRows"), "files_read" -> metric("numFiles")))
        case Left(err) => Op(kind, key, wall, ok = false, tr.enabled, err)
      })
      spark.catalog.clearCache()
    }
    r.endTimed()

    // answers for the DuckDB comparison (untimed)
    r.extra("answers") = answers.map { case (key, (rows, schema)) =>
      key -> Map("cols" -> schema.fieldNames.toSeq, "rows" -> rows.toSeq.map(row => plain(row).asInstanceOf[Seq[Any]]))
    }
    r.extra("oracle_sql") = answers.keys.filter(entries.contains).map(k => k -> oracles(k)).toMap
  }
}

/** corpus_curate: one pass of the curation chain over the corpus, called
  * through public operators. Each step's output feeds the checks; the
  * LSH pairs also feed the connected-components step. */
object CorpusCurate {
  import Main._

  final case class PassOut(exact: Array[Row], chunk: Array[Row], pairs: Array[Row], comps: Array[Row],
      contained: Array[Row], kept: Array[Row], probe: Array[Row], gates: Long,
      steps: Seq[(String, Double)])

  /** One pass of the chain; every step is timed (and, on a traced run,
    * spanned) as one operator call of the curator. */
  def pass(r: Run, tr: Tracer, d: DataFrame, e: DataFrame, q: DataFrame, ivf: String, req: Long): PassOut = {
    val spark = r.spark
    val id = col("doc_id"); val text = col("text")
    val steps = mutable.ArrayBuffer.empty[(String, Double)]
    def step[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(name)(body) finally steps += ((name, secs(t0)))
    }
    tr.span("pass", req) {
      val gates = step("textanalysis.gates") {
        d.select(id +: TextAnalysis.gopherFlags(d, text, 20, 1000): _*).collect().length.toLong
      }
      val exact = step("dedup.exact")(Dedup.exactGroups(d, id, text).collect())
      val chunk = step("dedup.chunk") {
        Dedup.chunkDedup(d, id, text, 12).select("doc_id", "n_chunks", "n_kept").collect()
      }
      val pairs = step("dedup.lsh_pairs") {
        Dedup.minHashLshPairs(d, id, text, 3, 4, 4, 0.5).select("id_a", "id_b").collect()
      }
      val comps = step("dedup.components") {
        val edges = spark.createDataFrame(pairs.toSeq.asJava,
          org.apache.spark.sql.types.StructType.fromDDL("id_a BIGINT, id_b BIGINT"))
        Dedup.connectedComponentsAuto(edges).select("doc_id", "cluster_id").collect()
      }
      val contained = step("dedup.containment") {
        Dedup.containmentEstPairs(d, id, text, 3, 16, 1, 600000L)
          .select("id_contained", "id_container").collect()
      }
      val kept = step("similarity.semdedup")(Similarity.semDedup(e, 0.99, 32, 2).select("vec_id").collect())
      step("similarity.ivf_build")(Similarity.writeIvfIndex(e, ivf, 32, 2))
      val probe = step("similarity.ivf_probe") {
        Similarity.probeIvfIndex(spark, ivf, q, 10, 4).select("qid", "vec_id").collect()
      }
      PassOut(exact, chunk, pairs, comps, contained, kept, probe, gates, steps.toSeq)
    }
  }

  def apply(r: Run): Unit = {
    val spark = r.spark
    val manifest = Json.read(s"${r.in}/manifest.json")
    val d = spark.read.parquet(s"${r.in}/documents.parquet")
    val e = spark.read.parquet(s"${r.in}/embeddings.parquet")
    val q = e.filter(col("vec_id").isin(Json.elems(manifest.get("truth").get("queries")).map(_.asLong): _*))
    val docs = manifest.get("docs").asLong

    // one pass of the chain over the corpus
    r.startTimed()
    val traced = r.tracer.enabled
    val t0 = System.nanoTime()
    val o = try Right(pass(r, r.tracer, d, e, q, s"${r.work}/ivf", 0)) catch {
      case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
    }
    val wall = secs(t0)
    o match {
      case Right(po) =>
        r.ops += Op("pass", "pass", wall, ok = true, traced, extra = Map(
          "docs" -> docs, "pairs_out" -> po.pairs.length,
          "components_out" -> po.comps.map(_.getLong(1)).distinct.length))
        po.steps.foreach { case (n, w) => r.ops += Op("step", n, w, ok = true, traced) }
      case Left(err) => r.ops += Op("pass", "pass", wall, ok = false, traced, err)
    }
    r.endTimed()

    // answers for the recall checks (untimed), with the brute-force
    // top-10 that the IVF probe is scored against
    def longs(rows: Array[Row], cols: Int*) = rows.toSeq.map(row => cols.map(row.getLong))
    r.extra("answers") = o.toOption.map { o =>
      val brute = Similarity.cosineTopK(q, e, 10).select("qid", "vec_id").collect()
      Map(
        "exact_groups" -> o.exact.length,
        "chunk_survivors" -> longs(o.chunk, 0).map(_.head),
        "components" -> longs(o.comps, 0, 1),
        "contained" -> longs(o.contained, 0, 1),
        "semdedup_kept" -> longs(o.kept, 0).map(_.head),
        "ivf_top10" -> longs(o.probe, 0, 1),
        "brute_top10" -> longs(brute, 0, 1),
        "gates_rows" -> o.gates)
    }.orNull
  }
}

/** daily_cycle: bootstrap both state families, then one checkpointed
  * file-source stream advances both per daily drop (DailyDriver's
  * settings; a traced run replays the sink's steps instead); afterwards
  * the reports are lifted into a lake, a range is read back, and both
  * heads are reloaded. */
object DailyCycle {
  import Main._

  val KeepLast = 4

  def apply(r: Run): Unit = {
    val spark = r.spark
    val tr = r.tracer
    val id = col("doc_id"); val text = col("text")
    val corpus = spark.read.parquet(s"${r.in}/corpus.parquet").select(id, text)
    val dropFiles = new java.io.File(s"${r.in}/drops").listFiles.filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
    val dropBytes = dropFiles.map(_.length).sum
    val w = r.work
    val (ingDir, dupDir, reportDir, ckptDir, dropDir, lakeDir) =
      (s"$w/state_ingest", s"$w/state_dup", s"$w/reports", s"$w/ckpt", s"$w/drops", s"$w/lake")
    val buckets = Some(GraftSession.profileOf(spark).lakeBuckets)

    r.startTimed()
    val tb = System.nanoTime()
    tr.span("bootstrap", 0L) {
      val ist = tr.span("ingest.init")(Ingest.initStates(corpus, id, text))
      tr.span("ingest.save_full")(Ingest.saveStates(ist, ingDir, 0L, buckets = buckets))
      val dd = tr.span("dupstate.init")(DupState.init(corpus, id, text))
      tr.span("dupstate.save_full")(DupState.save(dd, dupDir, 0L))
    }
    r.extra("bootstrap_s") = secs(tb)

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 10000L)
    val outBefore = r.listener.outputBytes
    val docs = Json.elems(Json.read(s"${r.in}/manifest.json").get("drop_docs")).map(_.asLong)
    if (!tr.enabled) {
      // the stream: one drop per day, closed loop (the next drop lands
      // once the previous day's report is written). Started outside any
      // span; it runs its batches under its own job group.
      new java.io.File(dropDir).mkdirs()
      new java.io.File(s"$w/stage").mkdirs()
      val query = EventStream.dailyCycleStream(EventStream.readSnapshots(spark, dropDir, corpus),
          ingDir, dupDir, reportDir,
          keepLast = Some(KeepLast),
          ingestRebaseEvery = Some(EventStream.IngestRebaseRecommended),
          dupRebaseEvery = Some(EventStream.DupRebaseRecommended),
          streamTag = Some(ckptDir))
        .option("checkpointLocation", ckptDir)
        .start()
      try dropFiles.zipWithIndex.foreach { case (f, i) =>
        val staged = java.nio.file.Paths.get(s"$w/stage/${f.getName}")
        java.nio.file.Files.copy(f.toPath, staged)
        val t0 = System.nanoTime()
        val ok = try {
          java.nio.file.Files.move(staged, java.nio.file.Paths.get(dropDir, f.getName))
          query.processAllAvailable()
          true
        } catch { case _: Throwable => false }
        r.ops += Op("day", s"day${i + 1}", secs(t0), ok, traced = false, extra = Map("docs" -> docs(i)))
      } finally query.stop()
      r.extra("stream_exception") = query.exception.map(_.getMessage.take(300)).getOrElse("")
    } else dropFiles.zipWithIndex.foreach { case (f, i) =>
      // a traced run drives the same days through the sink's steps
      // itself, in the sink's order, with a span per step
      val t0 = System.nanoTime()
      val ok = try {
        tr.span("replay.day", i.toLong + 1) {
          replayDay(r, tr, ingDir, dupDir, reportDir, i, spark.read.parquet(f.getPath))
        }
        true
      } catch { case _: Throwable => false }
      r.ops += Op("day", s"day${i + 1}", secs(t0), ok, traced = true, extra = Map("docs" -> docs(i)))
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 10000L)
    r.extra("state_output_bytes") = r.listener.outputBytes - outBefore
    r.extra("drop_bytes") = dropBytes

    // lift the reports into the date-partitioned lake, read a range back
    val tl = System.nanoTime()
    val reports = spark.read.option("basePath", reportDir).parquet(
      dropFiles.indices.map(i => s"$reportDir/batch=$i"): _*)
    tr.span("sources.lake_write", 0L) {
      Lake.write(reports.withColumn("day",
        date_add(lit("2024-01-01").cast("date"), col("batch_id").cast("int"))), lakeDir, col("day"))
    }
    val range = tr.span("sources.read_range", 0L) {
      val lastDay = java.time.LocalDate.parse("2024-01-01").plusDays(dropFiles.size - 1).toString
      Lake.readRange(spark, lakeDir, "2024-01-02", lastDay).select("batch_id").collect()
    }
    r.extra("lake_s") = secs(tl)

    // reload both heads and count the assignment being served
    val tr0 = System.nanoTime()
    val (vIng, ist, vDup, dst, nAssign) = tr.span("reload", 0L) {
      val (vi, is) = tr.span("ingest.load")(Ingest.loadStates(spark, ingDir))
      val (vd, ds) = tr.span("dupstate.load")(DupState.load(spark, dupDir))
      (vi, is, vd, ds, tr.span("dupstate.head_count")(ds.comp.count()))
    }
    r.extra("reload_s") = secs(tr0)
    r.extra("state_versions_live") =
      StateVersions.listVersions(spark, ingDir).length + StateVersions.listVersions(spark, dupDir).length
    r.extra("state_files") = Seq(ingDir, dupDir).map(p =>
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(p), Array("parquet"), true).size).sum
    r.extra("state_dir_bytes") = dirBytes(ingDir) + dirBytes(dupDir)
    r.endTimed()

    // checks (untimed)
    r.check("heads_at_last_day", vIng == dropFiles.size && vDup == dropFiles.size, s"ingest=$vIng dup=$vDup")
    r.check("lake_range_rows", range.map(_.getLong(0)).sorted.toSeq == (1L until dropFiles.size),
      range.map(_.getLong(0)).sorted.mkString(","))
    val everything = dropFiles.map(f => spark.read.parquet(f.getPath).select(id, text))
      .foldLeft(corpus)(_ unionByName _)
    val scratch = Dedup.dedupClusters(everything, id, text).select(id, col("cluster_id")).collect()
    val got = dst.comp.select(id, col("cluster_id")).collect()
    val diff = (got.toSeq.diff(scratch.toSeq) ++ scratch.toSeq.diff(got.toSeq)).size
    r.check("dup_assignment_equals_from_scratch", diff == 0, s"rows differing: $diff of $nAssign")
    r.check("ingest_keepers_nonempty", ist.keepers.limit(1).count() == 1)
  }

  /** One micro-batch of EventStream.dailyCycleStream, step by step in
    * the sink's order, each step in its own span. */
  def replayDay(r: Run, tr: Tracer, ing: String, dup: String, reports: String, batchId: Long,
      b: DataFrame): Unit = {
    val spark = r.spark
    val id = col("doc_id"); val text = col("text")
    val version = batchId + 1
    tr.span("state.guards") {
      StateVersions.requireCheckpointMatch(spark, ing, batchId, "ingest")
      StateVersions.requireCheckpointMatch(spark, dup, batchId, "dup-cluster")
    }
    val (_, ist) = tr.span("ingest.load")(Ingest.loadStates(spark, ing, upTo = batchId))
    val (report, next, d) = tr.span("ingest.advance")(Ingest.advanceOnceDelta(b, ist, id, text, 12, 64, 4, 256))
    if (version % EventStream.IngestRebaseRecommended == 0)
      tr.span("ingest.save_full")(Ingest.saveStates(next, ing, version, None))
    else tr.span("ingest.save_delta")(Ingest.saveStatesDelta(d, ing, version))
    val dst = tr.span("dupstate.load")(DupState.load(spark, dup, upTo = batchId)._2)
    val dd = tr.span("dupstate.advance")(DupState.advance(dst, b, id, text))
    if (version % EventStream.DupRebaseRecommended != 0)
      tr.span("dupstate.save_delta")(DupState.saveDelta(dd, dup, version))
    else tr.span("dupstate.save_full")(DupState.save(DupState.merged(dst, dd), dup, version))
    val nDup = tr.span("dupstate.head_count")(DupState.load(spark, dup, upTo = version)._2.comp.count())
    tr.span("streaming.report_write") {
      report.withColumn("batch_id", lit(batchId)).withColumn("n_dup_assign", lit(nDup))
        .write.mode("overwrite").parquet(s"$reports/batch=$batchId")
    }
    tr.span("ingest.compact")(Ingest.compactStates(spark, ing, KeepLast))
    tr.span("dupstate.compact")(DupState.compact(spark, dup, KeepLast))
  }
}
