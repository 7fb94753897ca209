package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import perfbench.Main.{Ctx, Outcome}

/** The windows of a traced run, in the order untraced, traced, traced,
  * untraced. A drift over the run (JIT, growing state) weighs on both arms
  * alike, so traced-minus-untraced carries no order bias.
  */
object Abba {
  /** Calls `block(traced)` four times in ABBA order, with `rec` attached
    * across the two traced calls. Returns the untraced results, the traced
    * results and the traced region's span.
    */
  def apply[A](rec: Recorder)(block: Boolean => Seq[A]): (Seq[A], Seq[A], Span) = {
    val u1 = block(false)
    rec.start()
    val r0 = System.currentTimeMillis().toDouble
    val t = block(true) ++ block(true)
    val region = Span("workload", "workload", -1, r0, System.currentTimeMillis().toDouble)
    rec.stop()
    val u2 = block(false)
    (u1 ++ u2, t, region)
  }

  /** Traced minus untraced median unit latency, in seconds and as a share. */
  def overhead(untraced: Seq[Double], traced: Seq[Double]): Map[String, Double] = {
    val d = Stats.median(traced) - Stats.median(untraced)
    Map("trace.overhead_s" -> d, "trace.overhead_ratio" -> d / Stats.median(untraced))
  }
}

/** `replicate`: one long-running `Replicator.run` query drains backlogs of
  * Kinesis-shaped CDC records, 4 files per micro-batch, as a replicator
  * catching up does. A unit is one micro-batch. The staged batches move
  * into the source directory a window at a time, each as one directory
  * rename, so no trigger ever sees part of a batch.
  *
  * Set-up: [[ColdBatches]] cold batches. Untraced run: one window. Traced run: four
  * windows in ABBA order, then [[Local1Batches]] at `local[1]`.
  */
object Replicate {
  val FilesPerBatch = 4
  val Region = "us-east-1"
  /** Set-up batches: the JIT is still compiling the batch path after the
    * first one, and the next two run about 1.5 times as long as later ones.
    */
  val ColdBatches = 3
  /** The `local[1]` leg of a traced run: one warm-up batch, then two timed. */
  val Local1Batches = 3

  def run(spark0: SparkSession, ctx: Ctx, sentinel: () => Unit): Outcome = {
    var spark = spark0
    val w = ctx.work
    val staged = new File(s"$w/stage").list().sorted
    var next = 0
    var mtime = System.currentTimeMillis()
    // batches through the main pipeline in release order (position =
    // streaming batchId), and the batches of each timed arm
    val order = ArrayBuffer[Int]()
    val tagged = scala.collection.mutable.Map[String, Seq[Int]]().withDefaultValue(Nil)

    /** Move the next `n` staged batch directories into `dir`, oldest first. */
    def release(n: Int, dir: String, tag: String): Unit = {
      require(n > 0 && next + n <= staged.size,
        s"backlog exhausted: need ${next + n} batches, staged ${staged.size}")
      new File(dir).mkdirs()
      val ids = next until next + n
      ids.foreach { b =>
        val src = new File(s"$w/stage", staged(b))
        src.listFiles().sortBy(_.getName).foreach { f => mtime += 10; f.setLastModified(mtime) }
        require(src.renameTo(new File(dir, staged(b))), s"cannot release ${staged(b)}")
      }
      next += n
      tagged(tag) = tagged(tag) ++ ids
      if (dir == s"$w/source") order ++= ids
    }

    /** A replicator query over the batch directories under `src`. */
    def start(src: String, out: String): StreamingQuery = graft.streaming.Replicator.run(spark,
      graft.sources.KinesisShapedSource.fromParquetDir(spark, s"$src/*", FilesPerBatch),
      s"$w/config", Region, s"$out/target", s"$out/checkpoint", s"$out/metrics",
      s"$out/stream", Trigger.ProcessingTime(100L))

    /** Release `n` batches and wait until `q` has drained them: the wall
      * seconds from release to drained, and the batches' progress.
      */
    def drain(q: StreamingQuery, n: Int, src: String, tag: String)
        : (Double, Seq[StreamingQueryProgress]) = {
      val before = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption
      val t0 = System.nanoTime()
      release(n, src, tag)
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && before.forall(p.batchId > _))
      require(prog.size == n, s"released $n batches, drained ${prog.size}")
      (wall, prog)
    }
    def batchS(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution") / 1e3
    /** Records per second of batch time. */
    def rate(ps: Seq[StreamingQueryProgress]): Double =
      ps.map(_.numInputRows).sum / ps.map(batchS).sum

    // set-up: start the query and drain the cold batches (JIT + codegen);
    // a traced run's recorder must exist before the query starts
    val rec = if (ctx.trace) Some(new Recorder(spark)) else None
    val query = start(s"$w/source", s"$w/out")
    drain(query, ColdBatches, s"$w/source", "cold")
    sentinel()
    val setupEnd = System.currentTimeMillis().toDouble
    val window = staged.size - next - (if (ctx.trace) Local1Batches else 0)

    var layer = Map.empty[String, Double]
    var spans = Seq.empty[Span]
    val untraced = rec.fold(Seq(drain(query, window, s"$w/source", "timed"))) { rec =>
      val (u, t, region) = Abba(rec)(isTraced =>
        Seq(drain(query, window / 4, s"$w/source", if (isTraced) "traced" else "timed")))
      query.stop()
      sentinel()
      val uprog = u.flatMap(_._2)
      val tprog = rec.progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      require(tprog.size == t.map(_._2.size).sum, "traced progress events went missing")
      layer = traced(rec, tprog, ctx.cpus) ++ Abba.overhead(uprog.map(batchS), tprog.map(batchS))
      spans = region +: tprog.flatMap(batchSpans(rec, _))
      layer ++= Stats.selfPerUnit(spans, tprog.size)
      layer ++= Jvm.readings()
      // the same pipeline at local[1]: one warm-up batch, then two timed
      spark.stop()
      spark = Main.session(1, w)
      val q1 = start(s"$w/source1", s"$w/out1")
      drain(q1, 1, s"$w/source1", "local1")
      val (_, p1) = drain(q1, Local1Batches - 1, s"$w/source1", "local1")
      q1.stop()
      layer += "exec.parallel_speedup" -> rate(uprog) / rate(p1)
      u
    }
    if (!ctx.trace) { query.stop(); sentinel() }
    val prog = untraced.flatMap(_._2)
    Outcome(setupEnd, prog.map(batchS), untraced.map(_._1).sum, prog.size, 0, layer, spans,
      Map("order" -> order.toSeq, "timed" -> tagged("timed"), "traced" -> tagged("traced")))
  }

  private def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  /** Batch → trigger phases (laid end to end in execution order) → the
    * three write actions → jobs → stages.
    */
  private def batchSpans(rec: Recorder, p: StreamingQueryProgress): Seq[Span] = {
    val a = startMs(p); val b = a + dur(p, "triggerExecution")
    val phases = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "streaming", "addBatch" -> "streaming",
      "commitOffsets" -> "streaming")
    var at = a
    val phaseSpans = phases.map { case (k, layer) =>
      val s = Span(k, layer, 1, at, at + dur(p, k)); at = s.end; s
    }
    val actions = rec.qesIn(a, b).flatMap { q =>
      q.outputPath.map(path => Span(action(path), "streaming", 2, q.start, q.end))
    }
    Span(s"batch-${p.batchId}", "streaming", 0, a, b) +: (phaseSpans ++ actions ++
      Stats.execSpans(rec, a, b))
  }

  private def action(path: String): String =
    if (path.endsWith("/target")) "forward"
    else if (path.endsWith("/checkpoint")) "checkpoint"
    else if (path.endsWith("/metrics")) "metrics"
    else "other"

  private def traced(rec: Recorder, prog: Seq[StreamingQueryProgress],
      cpus: Int): Map[String, Double] = {
    import Stats.{median, mean}
    val windows = prog.map(p => (startMs(p), startMs(p) + dur(p, "triggerExecution")))
    val perBatch = prog.zip(windows).map { case (p, (a, b)) =>
      val js = rec.jobsIn(a, b)
      val acts = rec.qesIn(a, b).flatMap(q => q.outputPath.map(path => action(path) -> q))
      def act(k: String) = acts.filter(_._1 == k).map(_._2.durMs).sum / 1e3
      (js.size.toDouble, (b - a - Stats.covered(js.map(j => (j.start, j.end)), a, b)) / 1e3,
        act("forward"), act("checkpoint"), act("metrics"),
        acts.filter(_._1 == "forward").map(_._2.outputRows).sum.toDouble)
    }
    def phase(k: String) = median(prog.map(dur(_, k) / 1e3))
    Map(
      "sources.latest_offset_s" -> phase("latestOffset"),
      "sources.get_batch_s" -> phase("getBatch"),
      "streaming.batch_s" -> phase("triggerExecution"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.query_planning_s" -> phase("queryPlanning"),
      "streaming.commit_s" -> median(prog.map(p => (dur(p, "walCommit") + dur(p, "commitOffsets")) / 1e3)),
      "streaming.jobs_per_batch" -> mean(perBatch.map(_._1)),
      "streaming.driver_gap_s" -> median(perBatch.map(_._2)),
      "streaming.forward_s" -> median(perBatch.map(_._3)),
      "streaming.checkpoint_s" -> median(perBatch.map(_._4)),
      "streaming.metrics_s" -> median(perBatch.map(_._5)),
      "streaming.gate_pass_ratio" -> perBatch.map(_._6).sum / prog.map(_.numInputRows).sum
    ) ++ Stats.exec(rec, windows, cpus)
  }
}

/** `query-mix`: a fixed, named sample of `SparkEntry.queries`, warm,
  * each evaluated through the noop sink as `graft.Bench` does. A unit is
  * one query. The cold pass (set-up) dumps every result to parquet for
  * the DuckDB oracle check run.py makes afterwards.
  *
  * Set-up: the cold pass, then one warm-up pass. Untraced run: timed
  * passes until `--seconds` have passed, at least two.
  * Traced run: four passes in ABBA order, then a warm-up pass and a timed
  * pass at `local[1]`.
  */
object QueryMix {
  /** (name, start ms, build end ms, end ms, ok) of one query. */
  type QueryRun = (String, Double, Double, Double, Boolean)

  def run(spark0: SparkSession, ctx: Ctx, sentinel: () => Unit): Outcome = {
    var spark = spark0
    val data = s"${ctx.work}/data"
    val passes = scala.io.Source.fromFile(s"${ctx.work}/passes.txt").getLines()
      .map(_.split(',').toSeq).toSeq
    val fns = graft.SparkEntry.queries
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${ctx.work}/oracle_sql.json"),
      Json(passes.head.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the cold pass runs `cpus` queries at a time (as graft.Verify does):
    // it is set-up, and JIT + codegen caches are process-wide
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    val cold = try passes.head.map { n =>
      n -> pool.submit(() => scala.util.Try(fns(n)(spark, data).write.mode("overwrite")
        .parquet(s"${ctx.work}/dump/$n")).isSuccess)
    }.map { case (n, f) => n -> f.get() } finally pool.shutdown()
    spark.sharedState.cacheManager.clearCache()
    val coldFailed = cold.collect { case (n, false) => n }

    var passNo = 0
    /** One pass over the sample, in the seeded order of pass `passNo`. */
    def pass(): Seq[QueryRun] = {
      val order = passes(passNo % passes.size)
      passNo += 1
      order.map { n =>
        val a = System.nanoTime(); val a0 = System.currentTimeMillis().toDouble
        var built = a
        val ok = scala.util.Try {
          val df = fns(n)(spark, data)
          built = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
        }.isSuccess
        val b = System.nanoTime()
        spark.sharedState.cacheManager.clearCache()
        (n, a0, a0 + (built - a) / 1e6, a0 + (b - a) / 1e6, ok)
      }
    }
    def lat(u: QueryRun) = (u._4 - u._2) / 1e3
    def rate(us: Seq[QueryRun]) = us.size / us.map(lat).sum

    // a warm-up pass, one query at a time as the timed passes run: after
    // the cold pass alone, a first timed pass still runs about 1.4 times
    // as long as a second one
    pass()
    sentinel()
    val setupEnd = System.currentTimeMillis().toDouble

    var layer = Map.empty[String, Double]
    var spans = Seq.empty[Span]
    val t0 = System.nanoTime()
    val (units, checked) = if (!ctx.trace) {
      val out = ArrayBuffer[QueryRun]()
      while (out.size < 2 * passes.head.size || !ctx.deadline(t0)) out ++= pass()
      (out.toSeq, out.toSeq)
    } else {
      import Stats.{median, mean}
      val rec = new Recorder(spark)
      val (u, t, region) = Abba(rec)(_ => pass())
      sentinel()
      val phases = t.map { q =>
        val qs = rec.qesIn(q._2, q._4)
        Seq("analysis", "optimization", "planning").map(k =>
          qs.map(_.phasesMs.getOrElse(k, 0.0)).sum / 1e3)
      }
      layer = Map(
        "operators.build_s" -> median(t.map(q => (q._3 - q._2) / 1e3)),
        "operators.build_jobs" -> mean(t.map(q => rec.jobsIn(q._2, q._3).size.toDouble)),
        "plans.analysis_s" -> median(phases.map(_(0))),
        "plans.optimization_s" -> median(phases.map(_(1))),
        "plans.planning_s" -> median(phases.map(_(2)))
      ) ++ Stats.exec(rec, t.map(q => (q._2, q._4)), ctx.cpus) ++
        Abba.overhead(u.map(lat), t.map(lat))
      spans = region +: t.flatMap { q =>
        Seq(Span(q._1, "bench", 0, q._2, q._4), Span("build", "operators", 1, q._2, q._3),
          Span("execute", "plans", 1, q._3, q._4)) ++ Stats.execSpans(rec, q._2, q._4)
      }
      layer ++= Stats.selfPerUnit(spans, t.size)
      layer ++= Jvm.readings()
      // the same mix at local[1]: one warm-up pass, then one timed pass
      spark.stop()
      spark = Main.session(1, ctx.work)
      pass()
      layer += "exec.parallel_speedup" -> rate(u) / rate(pass())
      (u, u ++ t)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (!ctx.trace) sentinel()
    require(units.nonEmpty, "the timed window ran no query")
    // failures are counted by run.py, which adds the oracle check
    Outcome(setupEnd, units.map(lat), if (ctx.trace) units.map(lat).sum else wall, units.size,
      0, layer, spans,
      Map("cold_failed" -> coldFailed, "queries" -> checked.map(_._1),
        "unit_ok" -> checked.map(_._5)))
  }
}

/** `dupgraph-ingest`: build a dup-graph over a seed-chosen half of a
  * document corpus (`DupGraph.write(storeDocs = true)`), then feed the
  * rest through `ingestBatch` + `maintain` in fixed-size batches, the
  * `dupGraphIngestStream` loop. A unit is one ingest batch. Afterwards
  * the stored edges must equal a one-shot build over the same documents.
  *
  * The first batch is ingested cold (set-up). Untraced run: the next
  * window of batches, in order. Traced run: two windows in four ABBA blocks.
  */
object DupGraphIngest {
  val Tau = 0.5
  val MaxFiles = 32

  /** (start ms, ingest end ms, end ms, compacted) of one batch. */
  type IngestRun = (Double, Double, Double, Boolean)

  def run(spark: SparkSession, ctx: Ctx, sentinel: () => Unit): Outcome = {
    import graft.api.DupGraph
    val w = ctx.work
    val graph = s"$w/graph"
    val batchFiles = new File(s"$w/docs/batches").list().filter(_.endsWith(".parquet")).sorted
    def batch(i: Int): DataFrame = spark.read.parquet(s"$w/docs/batches/${batchFiles(i)}")
    val b0 = System.nanoTime()
    DupGraph.write(spark.read.parquet(s"$w/docs/base.parquet"), "doc_id", "text", graph,
      Tau, storeDocs = true)
    val baseBuildS = (System.nanoTime() - b0) / 1e9
    var next = 0

    def unit(): IngestRun = {
      val a = System.currentTimeMillis().toDouble; val n0 = System.nanoTime()
      DupGraph.ingestBatch(batch(next), next.toLong, graph, "doc_id", "text")
      val n1 = System.nanoTime()
      val compacted = DupGraph.maintain(spark, graph, MaxFiles)
      val n2 = System.nanoTime()
      next += 1
      (a, a + (n1 - n0) / 1e6, a + (n2 - n0) / 1e6, compacted)
    }
    def units(n: Int): Seq[IngestRun] = Seq.fill(n)(unit())
    def lat(u: IngestRun) = (u._3 - u._1) / 1e3
    def ingestS(u: IngestRun) = (u._2 - u._1) / 1e3

    val coldBatch = unit()
    sentinel()
    val setupEnd = System.currentTimeMillis().toDouble
    // the corpus holds two timed windows: an untraced run ingests the
    // first, a traced run both, as four ABBA blocks
    val windows = batchFiles.length - next

    var layer = Map.empty[String, Double]
    var spans = Seq.empty[Span]
    val t0 = System.nanoTime()
    val (untraced, all) = if (!ctx.trace) { val u = units(windows / 2); (u, u) } else {
      import Stats.{median, mean}
      val rec = new Recorder(spark)
      val (u, t, region) = Abba(rec)(_ => units(windows / 4))
      sentinel()
      val ingest = (u ++ t).sortBy(_._1).map(ingestS)
      val q = math.max(1, ingest.size / 4)
      val (files, bytes) = listing(new File(graph))
      layer = Map(
        "api.ingest_batch_s" -> median(t.map(ingestS)),
        "api.ingest_jobs" -> mean(t.map(x => rec.jobsIn(x._1, x._2).size.toDouble)),
        "api.replay_probe_s" -> mean(t.map { x =>
          rec.jobsIn(x._1, x._2).filter(_.replayProbe).map(j => j.end - j.start).sum / 1e3 }),
        "api.maintain_s" -> median(t.map(x => (x._3 - x._2) / 1e3)),
        "api.maintain_runs" -> t.count(_._4).toDouble,
        "api.state_files" -> files.toDouble,
        "api.state_bytes" -> bytes.toDouble,
        "api.ingest_growth_ratio" -> median(ingest.takeRight(q)) / median(ingest.take(q))
      ) ++ Stats.exec(rec, t.map(x => (x._1, x._3)), ctx.cpus) ++
        Abba.overhead(u.map(lat), t.map(lat))
      spans = region +: t.zipWithIndex.flatMap { case (x, i) =>
        Seq(Span(s"batch-$i", "bench", 0, x._1, x._3), Span("ingest", "api", 1, x._1, x._2),
          Span("maintain", "api", 1, x._2, x._3)) ++ Stats.execSpans(rec, x._1, x._3)
      }
      layer ++= Stats.selfPerUnit(spans, t.size)
      layer ++= Jvm.readings()
      (u, u ++ t)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (!ctx.trace) sentinel()
    require(untraced.nonEmpty, "the timed window ingested no batch")

    // the check, outside every timed window: the incrementally maintained
    // edges equal a one-shot build over the same documents
    val corpus = (0 until next).map(batch).foldLeft(
      spark.read.parquet(s"$w/docs/base.parquet"))(_ unionByName _)
    DupGraph.write(corpus, "doc_id", "text", s"$w/reference", Tau)
    val inc = DupGraph.readEdges(spark, graph, Tau)
    val ref = DupGraph.readEdges(spark, s"$w/reference", Tau)
    val (nInc, nRef) = (inc.count(), ref.count())
    val (onlyInc, onlyRef) = (inc.exceptAll(ref).count(), ref.exceptAll(inc).count())
    val ok = nInc == nRef && onlyInc == 0 && onlyRef == 0
    Outcome(setupEnd, untraced.map(lat), if (ctx.trace) untraced.map(lat).sum else wall,
      untraced.size, if (ok) 0 else all.size, layer, spans,
      Map("checked_units" -> all.size, "batches_ingested" -> next, "edges_incremental" -> nInc,
        "edges_reference" -> nRef, "only_incremental" -> onlyInc, "only_reference" -> onlyRef,
        "docs_per_batch" -> batch(0).count(), "compactions" -> all.count(_._4),
        "base_build_s" -> baseBuildS, "cold_batch_s" -> lat(coldBatch),
        "state_files" -> listing(new File(graph))._1))
  }

  private def listing(dir: File): (Long, Long) = {
    val fs = Option(dir.listFiles).map(_.toSeq).getOrElse(Nil)
    fs.map { f =>
      if (f.isDirectory) listing(f)
      else if (f.getName.endsWith(".parquet")) (1L, f.length) else (0L, 0L)
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}
