package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{BenchAccess, ExcelToParquet, JsonText}
import graft.sources.excel.{ExcelRead, WorkbookSource}

/** Per-layer metrics of the traced run: roll-ups of the counters the
  * listeners recorded per op, and the extra probes that time one layer
  * on its own (a bare scan drain, a scan into the `noop` sink, ...).
  */
object Layers {

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Roll-ups every workload reports, taken over the traced loop ops. */
  def common(ctx: Ctx, loopKinds: Set[String], out: mutable.Map[String, Double]): Unit = {
    val ops = ctx.tracer.ops.filter(o => loopKinds.contains(o.kind))
    val traced = ops.filter(_.traced).toSeq
    def per(f: OpRecord => Double): Double = mean(traced.map(f))
    out("catalyst.analysis_s") = per(_.counters.analysisMs / 1e3)
    out("catalyst.optimization_s") = per(_.counters.optimizationMs / 1e3)
    out("catalyst.planning_s") = per(_.counters.planningMs / 1e3)
    out("driver.jobs_per_op") = per(_.counters.jobs.size.toDouble)
    out("driver.outside_jobs_s") = per { o =>
      val end = o.startMs + (o.wallS * 1e3).toLong
      (o.wallS * 1e3 - o.counters.jobCoveredMs(o.startMs, end)) / 1e3
    }
    out("exec.tasks") = per(_.counters.tasks.toDouble)
    out("exec.task_run_s") = per(_.counters.taskRunMs / 1e3)
    out("exec.task_cpu_s") = per(_.counters.taskCpuNs / 1e9)
    out("exec.gc_s") = per(_.counters.gcMs / 1e3)
    out("exec.input_bytes") = per(_.counters.inputBytes.toDouble)
    out("exec.shuffle_write_bytes") = per(_.counters.shuffleWriteBytes.toDouble)
    out("exec.shuffle_read_bytes") = per(_.counters.shuffleReadBytes.toDouble)
    out("exec.spill_bytes") = per(_.counters.spillBytes.toDouble)
    out("exec.output_bytes") = per(_.counters.outputBytes.toDouble)
    traced.lastOption.foreach { o =>
      out("residue.persisted_rdds") = o.residue.persistedRdds
      out("residue.storage_mb") = o.residue.storageMb
      out("residue.checkpoint_dirs") = o.residue.localCheckpoints
    }
    val probes = traced.filter(_.kind == "serve_probe")
    if (probes.nonEmpty) {
      out("serve.jobs_per_probe") = mean(probes.map(_.counters.jobs.size.toDouble))
      out("serve.task_cpu_s") = mean(probes.map(_.counters.taskCpuNs / 1e9))
    }
    if (loopKinds.contains("convert_many")) {
      val conv = ctx.tracer.ops.filter(o => o.traced &&
        (o.kind == "convert_many" || o.kind == "convert_large"))
      out("convert.task_busy_frac") = conv.map(_.counters.taskRunMs / 1e3).sum /
        (conv.map(_.wallS).sum * ctx.cores)
    }
    val drives = ctx.tracer.ops.filter(o => o.kind == "tws_drive" && o.traced).toSeq
    if (drives.nonEmpty) {
      def per(f: OpRecord => Double): Double = mean(drives.map(f))
      out("stream.triggers") = per(_.counters.triggers.toDouble)
      out("stream.trigger_s") = per(_.counters.triggerMs / 1e3)
      out("stream.add_batch_s") = per(_.counters.addBatchMs / 1e3)
      out("stream.planning_s") = per(_.counters.queryPlanningMs / 1e3)
      out("stream.wal_commit_s") = per(_.counters.walCommitMs / 1e3)
      out("state.shards") = drives.map(_.counters.stateShards.toDouble).max
      out("state.rows") = per(_.counters.stateRows.toDouble)
      out("state.memory_bytes") = per(_.counters.stateMemoryBytes.toDouble)
      out("state.commit_s") = per(_.counters.stateCommitMs / 1e3)
    }
    val observed = mutable.Map.empty[String, Double]
    ctx.tracer.ops.filter(_.traced).foreach(_.counters.observed.foreach { case (k, v) =>
      observed(k) = observed.getOrElse(k, 0.0) + v
    })
    observed.foreach { case (k, v) => out(s"observed.$k") = v }
    val bare = ops.filterNot(_.traced).map(_.wallS).toSeq
    if (traced.nonEmpty && bare.nonEmpty)
      out("bench.tracing_overhead_frac") =
        Main.median(traced.map(_.wallS)) / Main.median(bare) - 1
    // the part of each traced op's wall no span under it accounts for
    val spans = ctx.tracer.spans
    val direct = spans.filter(s => s.layer != "op").groupBy(_.parent)
    val opSpans = spans.filter(_.layer == "op")
    val totWall = opSpans.map(s => (s.endNs - s.startNs).toDouble).sum
    val covered = opSpans.map(s => direct.getOrElse(s.id, Nil).map(c => (c.endNs - c.startNs).toDouble).sum).sum
    if (totWall > 0) out("bench.unattributed_frac") = (totWall - covered) / totWall
  }

  /** Probes of the Excel and parquet-write layers, run once after the
    * timed passes of a traced `convert_corpus` run, on the last pass's
    * inputs and outputs.
    */
  def convertProbe(ctx: Ctx, corpus: String, many: Seq[String], model: Map[String, Corpus.Book],
      out: String, largeCopy: String, passWall: Double): Unit = {
    val spark = ctx.spark
    val L = ctx.layers
    ctx.tracer.op("probe", 0) {
      val sp = ctx.tracer
      def opts(f: String) = ExcelRead.Options(f, None, None, 0)
      L("excel.layout_s") = (many :+ largeCopy).map { f =>
        time(sp.span("ExcelRead.layout", "sources.excel") { ExcelRead.layout(opts(f)) })._2
      }.sum
      def drain(files: Seq[String]): Double = {
        val secs = files.map { f =>
          time(sp.span("ExcelRead.rows", "sources.excel") {
            val lay = ExcelRead.layout(opts(f))
            val it = ExcelRead.rows(opts(f), lay, lay.names.indices.toArray, lay.names.size)
            var n = 0L
            try while (it.hasNext) { it.next(); n += 1 } finally it.close()
            n
          })._2
        }.sum
        files.map(f => model(Paths.get(f).getFileName.toString).cells).sum / secs / 1e6
      }
      L("excel.xlsx_scan_mcells_per_s") = drain(many.filter(_.endsWith(".xlsx")))
      L("excel.xlsb_scan_mcells_per_s") = drain(many.filter(_.endsWith(".xlsb")))

      val scratch = ctx.scratch.resolve("probe")
      Files.createDirectories(scratch)
      def freshLarge(tag: String): String = {
        val p = scratch.resolve(s"large_$tag.xlsx")
        Files.copy(Paths.get(corpus, "large.xlsx"), p, StandardCopyOption.REPLACE_EXISTING)
        p.toString
      }
      val spillIn = freshLarge("spill")
      L("excel.split_spill_s") = time(sp.span("WorkbookSource.spillRowChunks", "sources.excel") {
        val lay = ExcelRead.layout(opts(spillIn))
        val wb = WorkbookSource.open(spillIn)
        val chunks = Files.createDirectories(scratch.resolve("chunks"))
        try wb.spillRowChunks(lay.target, ctx.cores, chunks) finally wb.close()
      })._2

      // the same reads the conversion does, into Spark's noop sink
      val scanIn = freshLarge("scan")
      L("convert.scan_only_s") = time(sp.span("excel->noop", "sources.excel") {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(Future.sequence(many.map { f =>
          Future(ExcelToParquet.read(spark, ExcelToParquet.Options(f, ""))
            .write.format("noop").mode("overwrite").save())
        }), Duration.Inf)
        finally pool.shutdown()
        ExcelToParquet.read(spark, ExcelToParquet.Options(scanIn, "", sheetPartitions = ctx.cores))
          .write.format("noop").mode("overwrite").save()
      })._2
      L("convert.write_s") = passWall - L("convert.scan_only_s")
      L("convert.recount_s") = time(sp.span("parquet.count", "ExcelToParquet") {
        (many.map(f => s"$out/many/${Paths.get(f).getFileName}") :+ s"$out/large")
          .map(p => spark.read.parquet(p).count()).sum
      })._2
      L("convert.row_groups") = rowGroups(ctx, Paths.get(out))
    }(_ => true)
  }

  private def rowGroups(ctx: Ctx, dir: Path): Double = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val s = Files.walk(dir)
    val files = try s.toArray.map(_.toString).filter(_.endsWith(".parquet")).toSeq finally s.close()
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try r.getRowGroups.size.toDouble finally r.close()
    }.sum
  }

  /** Curate and index roll-ups, plus the one count the chain's own ops
    * cannot show: the LSH candidate set the exact verify had to check.
    */
  def curateProbe(ctx: Ctx, dir: String, chainOps: Seq[OpRecord]): Unit = {
    val spark = ctx.spark
    val L = ctx.layers
    def wall(kind: String): Double = chainOps.find(_.kind == kind).map(_.wallS).getOrElse(0.0)
    val cc = chainOps.find(_.kind == "curate.cc").get
    L("curate.cc_s") = cc.wallS
    L("curate.cc_jobs") = cc.counters.jobs.size
    L("index.centroid_s") = wall("index.centroids")
    L("index.books_s") = wall("index.books")
    L("index.encode_s") = wall("index.encode")
    ctx.tracer.op("probe", 0) {
      val cand = ctx.tracer.span("lshCandidatePairs", "operators") {
        BenchAccess.lshCandidatePairs(spark, dir).count()
      }
      L("curate.candidate_pairs") = cand
      L("curate.verify_yield") = if (cand == 0) 0.0 else L("curate.verified_pairs") / cand
    }(_ => true)
  }

  /** Spans, per-op counters and the per-layer self-time roll-up, as one
    * JSON document.
    */
  def writeSidecar(path: String, tr: Tracer): Unit = {
    def q(s: String) = JsonText.quote(s)
    val spans = tr.spans
    val children = spans.groupBy(_.parent)
    val self = mutable.LinkedHashMap.empty[String, Double]
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => c.endNs - c.startNs).sum
      self(s.layer) = self.getOrElse(s.layer, 0.0) + (s.endNs - s.startNs - kids) / 1e9
    }
    val sb = new StringBuilder
    sb ++= "{\"spans\":["
    sb ++= spans.map(s =>
      s"""{"id":${s.id},"name":${q(s.name)},"layer":${q(s.layer)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""").mkString(",")
    sb ++= "],\"ops\":["
    sb ++= tr.ops.map { o =>
      val c = o.counters
      s"""{"id":${o.id},"kind":${q(o.kind)},"wall_s":${o.wallS},"ok":${o.ok},"traced":${o.traced},""" +
        s""""jobs":${c.jobs.size},"tasks":${c.tasks},"task_run_ms":${c.taskRunMs},""" +
        s""""task_cpu_ns":${c.taskCpuNs},"gc_ms":${c.gcMs},"shuffle_read_bytes":${c.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes},""" +
        s""""analysis_ms":${c.analysisMs},"optimization_ms":${c.optimizationMs},"planning_ms":${c.planningMs},""" +
        s""""triggers":${c.triggers},"persisted_rdds":${o.residue.persistedRdds},""" +
        s""""storage_mb":${o.residue.storageMb},"observed":${c.observed.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}"""
    }.mkString(",")
    sb ++= "],\"layer_self_s\":"
    sb ++= self.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    sb ++= "}"
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }
}
