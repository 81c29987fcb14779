package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.index.Builder
import graft.query.{IndexHandle, Searcher}
import graft.streaming.IncrementalIndexer
import Main.{Ctx, median, nowS}
import Check.Hit

/** The workloads. Each is a closed loop with one client thread.
  * Every reported metric comes from the program's public functions,
  * timed from outside, and every answer is checked against `Check`. */
object Workloads {

  val K = 10

  /** Code corpus behind `lookup` and `bulk`. */
  val ServeDocs = 8000
  /** Lookups run before the window: the first few hundred run 20-35 %
    * slower while the JIT compiles Spark's planning path. */
  val LookupWarmup = 60
  /** Requests generated before a run, at most this many per window:
    * 19 and 3 times what a 10 s window held (at most 133 lookups and 28
    * bulk batches), so the window ends on time, not on queries. */
  val LookupRequests = 2500
  val BulkRequests = 80
  /** Queries per `bulk` request: at least Searcher.ExecBatchThreshold,
    * so `searchTopK` routes the batch to the executor WAND path. */
  val BulkBatch = 256
  val BulkWarmup = 4

  /** `ingest`: base table, then this many micro-batches. Each batch is
    * 15 % of the base, so the Compactor's rule (stream segments >= 10 %
    * of the base segments' bytes) fires after every batch, even as the
    * base grows by 15 % per round: every round does the same work. */
  val IngestBaseDocs = 4000
  val IngestBatchDocs = 600
  val IngestRounds = 3
  val PlantedDocs = 5
  val IngestLookups = 3

  /** `clean`: prose slices (Inputs.SliceDocs documents each). */
  val CleanSlices = 80
  val CleanWarmup = 2

  /** Every index is built with one segment and no read-back
    * verification: the default four verified segments add about twenty
    * Spark jobs, which the run's time budget cannot afford. */
  val IndexConfig = Builder.Config(nSegments = 1, verifySegments = false)

  /** `clean` and `ingest` run on request but are not in BENCHMARK.json's
    * workloads: a third gated workload does not fit the gate's time
    * budget (4 + 22 x workloads runs in 3420 s) on a 4-vCPU VM, and
    * `clean`'s per-run spread reached 0.25. Their layers report in every
    * traced run. */
  val all: Map[String, Ctx => Unit] = Map(
    "lookup" -> (c => serve(c, 1, LookupWarmup, LookupRequests)),
    "bulk" -> (c => serve(c, BulkBatch, BulkWarmup, BulkRequests)),
    "ingest" -> ingest, "clean" -> clean)

  // ---- shared pieces ----------------------------------------------------

  def writeCodeTable(spark: SparkSession, docs: Seq[Inputs.CodeDoc], path: String): Unit =
    spark.createDataFrame(docs).write.parquet(path)

  def readTable(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** Build an index; stage times go to the builder.* layer metrics. */
  def build(c: Ctx, corpus: DataFrame, dir: String, conf: Builder.Config): Unit = {
    val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Trace.span("builder.build") {
      Builder.build(c.spark, corpus, dir, conf, (s, secs) => {
        val key = if (s.startsWith("segment_")) "segments" else s
        stages(key) = stages.getOrElse(key, 0.0) + secs
      })
    }
    stages.foreach { case (s, secs) => c.layer(s"builder.${s}_s", secs, "s") }
  }

  def openHandle(c: Ctx, dir: String): IndexHandle = {
    val t0 = nowS
    val h = Trace.span("handle.open")(IndexHandle.open(c.spark, dir))
    c.layer("handle.open_ms", (nowS - t0) * 1e3, "ms")
    h
  }

  /** Run a query batch; returns its `(query_id, rank, doc_id, score)` rows. */
  def search(c: Ctx, dir: String, qs: Seq[Searcher.Query], request: Long): Array[Row] =
    Trace.span("searcher.searchTopK", request) {
      Searcher.searchTopK(c.spark, dir, qs, K).collect()
    }

  /** Each query's ranked hits in a batch's rows. */
  def hits(rows: Array[Row]): Map[Long, Seq[Hit]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(r => Hit(r.getLong(2), r.getDouble(3))).toSeq
    }

  /** Time the run's set-up: inputs written, index built and opened. */
  def setup(c: Ctx)(body: => Unit): Unit = {
    val t0 = nowS
    body
    c.metric("setup_s", nowS - t0, "s")
  }

  def table(c: Ctx)(body: => Unit): Unit = {
    val t0 = nowS
    Trace.span("corpus.table")(body)
    c.layer("corpus.table_s", nowS - t0, "s")
  }

  /** Listener totals over a window, per request (traced runs only). */
  def perRequest(c: Ctx, before: Option[Array[Double]], requests: Long): Unit =
    for (l <- c.listener; b <- before) {
      val a = l.snapshot()
      val names = Seq("jobs", "stages", "task_cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes")
      val units = Seq("count", "count", "ms", "ms", "B", "B")
      names.indices.foreach { i =>
        c.layer(s"spark.${names(i)}_per_request", (a(i) - b(i)) / math.max(1L, requests), units(i))
      }
    }

  /** CPU seconds of the program: the process's CPU time (every thread,
    * the garbage collector's and ended ones included) less that of the
    * JIT compiler threads, whose background work during a window depends
    * on how far warm-up got rather than on the requests. The compiler
    * threads are found by name in /proc/self/task; run.py starts the JVM
    * with a fixed set of them, so none ends inside a window. */
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Linux reports per-thread CPU in USER_HZ ticks, 100 a second. */
  private val TicksPerS = 100.0
  def jitCpuS(): Double = {
    var ticks = 0L
    for (t <- Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)) {
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val close = stat.lastIndexOf(')')
        if (stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) {
          val f = stat.substring(close + 2).split(' ') // from field 3, state
          ticks += f(11).toLong + f(12).toLong         // fields 14-15, utime and stime
        }
      } catch { case _: java.io.IOException => () } // the thread ended
    }
    ticks / TicksPerS
  }
  def programCpuS(): Double = processCpuS - jitCpuS()

  /** CPU time of the JVM's live Java threads (driver, executor tasks,
    * Spark's own threads; not GC or JIT), for notes. */
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
  def threadCpu(): Map[Long, Long] =
    threadBean.getAllThreadIds.iterator.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 > 0).toMap
  def cpuSince(start: Map[Long, Long]): Double =
    threadCpu().iterator.map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum / 1e9

  /** One window: wall ms per request, and the window's wall seconds,
    * program CPU seconds, Java-thread CPU seconds and process CPU
    * seconds. */
  case class Window(wallMs: Seq[Double], secs: Double, cpuSecs: Double,
                    javaCpuSecs: Double, processCpuSecs: Double) {
    def cpuMsPerRequest: Double = cpuSecs * 1e3 / wallMs.length
  }

  /** Closed-loop window of `secs` seconds: call `one` until time is up
    * or `requests` calls are made. `one` returns its request's wall
    * latency in ms, timed around the call into the program only; the
    * requests' inputs are made before the window and answers are
    * checked after it. A traced run also reports the window's
    * per-request Spark metrics. */
  def window(c: Ctx, secs: Double, requests: Int)(one: Long => Double): Window = {
    val before = c.listener.map(_.snapshot())
    val wall = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = nowS
    val j0 = threadCpu()
    val p0 = processCpuS
    val c0 = programCpuS()
    var i = 0L
    while (nowS - t0 < secs && i < requests) {
      wall += one(i)
      i += 1
    }
    val w = Window(wall.toSeq, nowS - t0, programCpuS() - c0, cpuSince(j0), processCpuS - p0)
    if (i == requests) c.notes += s"window: ended after all $requests prepared requests"
    if (c.traced) {
      perRequest(c, before, i)
      c.layer("trace.request_cpu_ms", w.cpuMsPerRequest, "ms")
      c.layer("trace.request_p50_ms", median(w.wallMs), "ms")
    }
    w
  }

  /** Time one call in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = nowS
    val r = body
    (r, (nowS - t0) * 1e3)
  }

  /** Wall-clock figures of a window, printed as notes: the median, the
    * highest percentile with at least ten samples beyond it (from 40
    * requests on), and the rate. */
  def wallNotes(c: Ctx, name: String, w: Window, items: Int): Unit = {
    val lat = w.wallMs
    val tail = if (lat.length >= 40) {
      val p = 1.0 - 10.0 / lat.length
      f" tail_p${p * 100}%.1f_ms=${Main.quantile(lat, p)}%.3f"
    } else ""
    c.notes += f"$name: requests=${lat.length} wall_p50_ms=${median(lat)}%.3f$tail " +
      f"items_per_wall_s=${lat.length * items / w.secs}%.2f " +
      f"java_cpu_ms_per_request=${w.javaCpuSecs * 1e3 / lat.length}%.2f " +
      f"process_cpu_ms_per_request=${w.processCpuSecs * 1e3 / lat.length}%.2f"
  }

  // ---- lookup and bulk: the driver loop and the executor path ----------

  def serveSetup(c: Ctx): (String, Check.BruteBm25, IndexedSeq[Inputs.CodeDoc]) = {
    val docs = Inputs.codeCorpus(c.seed, "repo", ServeDocs)
    val tbl = s"${c.work}/corpus"
    val idx = s"${c.work}/index"
    var h: IndexHandle = null
    val t0 = nowS
    var t1, t2, t3 = 0.0
    setup(c) {
      table(c)(writeCodeTable(c.spark, docs, tbl))
      t1 = nowS
      build(c, readTable(c.spark, tbl), idx, IndexConfig)
      t2 = nowS
      h = openHandle(c, idx)
      t3 = nowS
    }
    c.notes += f"setup: table_s=${t1 - t0}%.2f build_s=${t2 - t1}%.2f open_s=${t3 - t2}%.2f " +
      s"postings_bytes=${h.postingsBytes} index_bytes=${graft.util.Fs.dirBytes(c.spark, idx)} " +
      s"resident=${h.postingsResident}"
    val bm = new Check.BruteBm25
    Check.inIdOrder(docs).foreach(d => bm.add(d.content))
    (idx, bm, docs)
  }

  /** Requests of `n` queries each on a freshly built index: an untimed
    * warm-up of `warmup` requests, then the window. `lookup` sends one
    * query per request, which `searchTopK` answers on the driver WAND
    * loop after one Spark job (`IndexHandle.blocksFor` + collect);
    * `bulk` sends BulkBatch queries per request, which it answers on
    * executors (broadcast join, groupByKey/flatMapGroups, per-query
    * Wand.topK). Every returned list is checked after the window. */
  def serve(c: Ctx, n: Int, warmup: Int, requests: Int): Unit = {
    val (idx, bm, docs) = serveSetup(c)
    if (n > 1 && n < Searcher.ExecBatchThreshold)
      c.notes += s"bulk batch $n is below ExecBatchThreshold ${Searcher.ExecBatchThreshold}"
    val tp = nowS
    val qs = new Inputs.QueryStream(c.seed)
    val toks = Inputs.distinctTokens(docs)
    val prepared = (1 to (warmup + requests) * n).map(i => Searcher.Query(i.toLong, qs.next(toks)))
      .grouped(n).toIndexedSeq
    val answers = scala.collection.mutable.ArrayBuffer.empty[(Seq[Searcher.Query], Array[Row])]
    def batch(b: Int, req: Long): Double = {
      val (r, ms) = timed(c.op(search(c, idx, prepared(b), req)))
      r.foreach(rows => answers += prepared(b) -> rows)
      ms
    }
    val tw = nowS
    (0 until warmup).foreach(i => batch(i, -1L - i))
    c.notes += f"prepare: queries_s=${tw - tp}%.2f warmup_s=${nowS - tw}%.2f"
    val w = window(c, c.seconds, requests)(req => batch(warmup + req.toInt, req))
    c.metric("request_cpu_ms", w.cpuMsPerRequest, "ms")
    wallNotes(c, if (n == 1) "lookup" else "bulk", w, n)
    var checked = 0
    val tc = nowS
    answers.foreach { case (qb, rows) =>
      val res = hits(rows)
      qb.foreach { q =>
        Check.compareTopK(q.text, res.getOrElse(q.query_id, Nil), bm.topK(q.text, K)).foreach(c.fail)
        checked += 1
      }
    }
    c.notes += f"checked $checked top-$K lists in ${nowS - tc}%.1f s"
    if (c.traced) Layers.serveProbes(c, idx, prepared.flatten.take(60).map(_.text))
  }

  // ---- ingest: full build, then micro-batches beside lookups ------------

  def plantedTerm(seed: Long, round: Int): String = s"plant${seed.abs}x$round"

  def ingest(c: Ctx): Unit = {
    val base = Inputs.codeCorpus(c.seed, "repo", IngestBaseDocs)
    val batches = (0 until IngestRounds).map { r =>
      (0 until IngestBatchDocs).map { i =>
        Inputs.codeDoc(c.seed, s"b${r}r", i.toLong,
          if (i % (IngestBatchDocs / PlantedDocs) == 0) Seq(plantedTerm(c.seed, r)) else Nil)
      }
    }
    val tbl = s"${c.work}/corpus"
    setup(c) {
      table(c) {
        writeCodeTable(c.spark, base, tbl)
        batches.zipWithIndex.foreach { case (b, r) => writeCodeTable(c.spark, b, s"$tbl-b$r") }
      }
    }
    val idx = s"${c.work}/index"
    val bm = new Check.BruteBm25
    val known = scala.collection.mutable.ArrayBuffer.empty[Inputs.CodeDoc]
    val knownToks = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    val qs = new Inputs.QueryStream(c.seed)
    val visible = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lookups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var compactions = 0
    var qid = 0L
    val before = c.listener.map(_.snapshot())
    val t0 = nowS
    c.op(build(c, readTable(c.spark, tbl), idx, IndexConfig))
    val buildS = nowS - t0
    Check.inIdOrder(base).foreach(d => bm.add(d.content))
    known ++= base
    knownToks ++= Inputs.distinctTokens(base)
    val visibleCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (r <- 0 until IngestRounds) {
      val tr = nowS
      val cr = programCpuS()
      val ok = c.op {
        val batch = readTable(c.spark, s"$tbl-b$r")
        if (c.traced) {
          val tb = nowS
          Trace.span("ingest.batch", r) {
            IncrementalIndexer.ingestBatch(c.spark, batch, idx, IndexConfig, r, autoCompact = false)
          }
          c.layer("ingest.batch_ms", (nowS - tb) * 1e3, "ms")
          Layers.compact(c, idx)
        } else
          IncrementalIndexer.ingestBatch(c.spark, batch, idx, IndexConfig, r)
      }.isDefined
      Check.inIdOrder(batches(r)).foreach(d => bm.add(d.content))
      known ++= batches(r)
      knownToks ++= Inputs.distinctTokens(batches(r))
      if (!graft.util.Fs.list(c.spark, s"$idx/postings").exists(_.getName.startsWith("segment=s")))
        compactions += 1
      // read-your-write: query the batch's planted term until its docs return
      if (ok) {
        openHandle(c, idx)
        val term = plantedTerm(c.seed, r)
        val want = bm.topK(term, K)
        var got: Seq[Hit] = Nil
        var tries = 0
        while (got != want && tries < 5) {
          qid += 1; tries += 1
          got = c.op(search(c, idx, Seq(Searcher.Query(qid, term)), r))
            .map(rows => hits(rows).getOrElse(qid, Nil)).getOrElse(Nil)
        }
        if (got == want) { visible += (nowS - tr) * 1e3; visibleCpu += (programCpuS() - cr) * 1e3 }
        else c.fail(s"round $r: planted docs not visible after $tries queries: got $got want $want")
      }
      (0 until IngestLookups).foreach { _ =>
        qid += 1
        val q = qs.next(knownToks.toIndexedSeq)
        val s = nowS
        c.op(search(c, idx, Seq(Searcher.Query(qid, q)), r)).foreach { rows =>
          lookups += (nowS - s) * 1e3
          Check.compareTopK(q, hits(rows).getOrElse(qid, Nil), bm.topK(q, K)).foreach(c.fail)
        }
      }
    }
    val secs = nowS - t0
    perRequest(c, before, IngestRounds)
    val docs = IngestBaseDocs + IngestRounds * IngestBatchDocs
    if (visible.nonEmpty) {
      c.metric("request_cpu_ms", median(visibleCpu.toSeq), "ms")
      c.layer("trace.request_cpu_ms", median(visibleCpu.toSeq), "ms")
      c.layer("trace.request_p50_ms", median(visible.toSeq), "ms")
    }
    c.notes += f"ingest: build_docs_per_s=${IngestBaseDocs / buildS}%.1f " +
      f"docs_per_wall_s=${docs / secs}%.1f " +
      f"visible_ms=${visible.map(v => f"$v%.0f").mkString("/")} " +
      f"lookup_p50_ms=${if (lookups.nonEmpty) median(lookups.toSeq) else 0.0}%.2f " +
      s"compactions=$compactions"
    if (compactions != IngestRounds)
      c.notes += s"ingest: expected $IngestRounds compactions, saw $compactions"
    if (c.traced) Layers.serveProbes(c, idx, known.take(40).map(d => Check.tokenize(d.content).take(2).mkString(" ")).toSeq)
  }

  // ---- clean: cleanCorpus over a fresh prose slice per request ----------

  /** Write `slices` prose slices as one `(doc_id, text, recipe)` table
    * partitioned by slice under the work directory. */
  def proseTable(c: Ctx, slices: Int, name: String): (String, IndexedSeq[IndexedSeq[Inputs.ProseDoc]]) = {
    val all = (0 until slices).map(s => Inputs.proseSlice(c.seed, s))
    val tbl = s"${c.work}/$name"
    c.spark.createDataFrame(all.flatten).write.partitionBy("slice").parquet(tbl)
    (tbl, all)
  }

  /** One slice, read from its own partition directory: a filter on the
    * slice number would put a different literal into every request's
    * generated code and recompile it each time. */
  def sliceFrame(spark: SparkSession, tbl: String, slice: Int): DataFrame =
    spark.read.parquet(s"$tbl/slice=$slice").select("doc_id", "text")

  def clean(c: Ctx): Unit = {
    var prose: (String, IndexedSeq[IndexedSeq[Inputs.ProseDoc]]) = null
    setup(c)(table(c) { prose = proseTable(c, CleanSlices, "prose") })
    val (tbl, slices) = prose
    var next = 0
    val answers = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[org.apache.spark.sql.Row])]
    def one(req: Long): Double = {
      val s = next; next += 1
      val (r, ms) = timed(c.op(Trace.span("pipeline.cleanCorpus", req) {
        graft.ops.Pipeline.cleanCorpus(sliceFrame(c.spark, tbl, s)).collect()
      }))
      r.foreach(rows => answers += s -> rows)
      ms
    }
    (0 until CleanWarmup).foreach(i => one(-1L - i))
    val w = window(c, c.seconds, slices.length - CleanWarmup)(one)
    c.metric("request_cpu_ms", w.cpuMsPerRequest, "ms")
    wallNotes(c, "clean", w, Inputs.SliceDocs)
    answers.foreach { case (s, rows) =>
      val got = rows.toSeq.map(r => Check.Verdict(r.getLong(0), r.getLong(1),
        r.getString(2), r.getBoolean(3), r.getString(4)))
      val want = Check.cleanVerdicts(slices(s).map(d => d.doc_id -> d.text))
      want.zip(slices(s)).foreach { case (w, d) =>
        if (w.reason != d.recipe) c.fail(s"slice $s doc ${d.doc_id}: oracle ${w.reason} != recipe ${d.recipe}")
      }
      Check.compareVerdicts(got, want).foreach(e => c.fail(s"slice $s: $e"))
    }
    c.notes += s"clean: checked ${answers.length} slices"
    if (c.traced) Layers.cleanProbes(c, tbl, 0 until math.min(next, 3))
  }
}
